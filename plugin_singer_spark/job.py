"""Config-driven ingest job — the ``spark-submit --py-files`` entry (P24).

Reference analog: the Java layer materializes ``config.json`` /
``catalog.json`` / ``state.json`` and launches the connector
(AbstractPythonSinger.java:128-199); the engine's launch mode per the north
rule is::

    spark-submit --py-files engine.zip -m plugin_singer_spark.job --config job.json
    # or:  python -m plugin_singer_spark.job --config job.json

Job config (JSON)::

    {
      "table":  {"path": "/lake/repos", "keys": ["repo", "path"],
                 "num_buckets": 64,
                 "columns": {"repo": "string", "path": "string",
                             "commit": "string", "lang": "string",
                             "content": "string"}},
      "source": {"format": "jsonl",   # jsonl | parquet | generic | jdbc
                 "path": "/binlog/dir",
                 "stream": "repos",
                 "files_per_batch": 8,
                 # generic: "reader": "pkg.mod:fn" or a register_source name
                 #          (taps/GenericTap.java:28-77 analog)
                 # jdbc:    "options": {"url": ..., "dbtable": ...}
                 },
      "replication_method": "LOG_BASED",     # | INCREMENTAL | FULL_TABLE
      "replication_key": "seq",              # INCREMENTAL only
      "write_mode": "mor",                   # mor | cow
      "checkpoint_id": "job",
      "streaming": true,                     # Structured Streaming driver
      "batch_wait_limit_seconds": 30,        # → trigger(processingTime=...)
                                             #  (PipelinewiseSnowflake.java:300-304;
                                             #   absent ⇒ bounded availableNow run)
      "compact_every": 8,                    # MOR compaction cadence (batch replay)
      "compact_rotate": 4,                   # staggered profile: each wave folds
                                             #  only its 1/N bucket shard (flat
                                             #  wave cost; 0/absent = full)
      "validate": {...stream JSON-Schema...},      # optional (P15)
      "invalid_records_detect": true,              # DatamillCoPostgres.java:148
      "invalid_records_threshold": 0,
      "quarantine_path": "...",                    # default <table>_quarantine
      "stream_map": {...},                         # optional (P19);
                                                   #  __alias__ renames the
                                                   #  stream in report/views
      "flatten": {"max_level": 2},                 # optional (P16,
                                                   #  data_flattening_max_level)
      "add_metadata_columns": true,                # optional (P17)
      "before_sql": ["..."], "after_sql": ["..."], # DatamillCoPostgres.java:159-168
      "archive_load_files": true,                  # retain consumed raw files
                                                   #  per epoch + lineage ptr
                                                   #  (PipelinewiseSnowflake.java:368-376)
      "sink": {"format": "jsonl"|"csv"|"parquet"   # file/generic/relational
                        |"jdbc"|"generic",         #  TARGET (targets/Csv.java,
               "path": "...", ...}                 #   targets/Json.java,
                                                   #   targets/GenericTarget.java,
                                                   #   pipelinewise SQL targets —
                                                   #   jdbc: "url", "mode",
                                                   #   default_target_schema,
                                                   #   table_prefix, hard_delete,
                                                   #   primary_keys, batch_size_rows,
                                                   #   parallelism — sinks/jdbc.py);
                                                   #  without "table" the job is
                                                   #  a pure tap→file run
    }

    ``table.parallelism`` sets ``write.tasks_per_bucket`` (k files per
    bucket per write — the reference's parallelism/max_parallelism,
    targets/PipelinewisePostgres.java:155-156).

Catalog-driven multi-stream jobs replace ``table`` with ``catalog`` (a
Singer discovery doc, or ``"discover"`` to bootstrap the catalog from the
raw artifact itself — the ``--discover`` run, taps/AbstractPythonTap.java:
149-163) + ``streams_configurations`` + ``tables_root``. Additional
catalog-job keys: ``epoch`` (artifact generation number — re-running the
same epoch is fenced per stream), ``persist_empty_tables``,
``type_options`` (use_singer_decimal / use_date_datatype /
prefer_float_over_numeric), and per-entry ``where`` / ``limit`` in
``streams_configurations`` (the BigQuery tap's query shaping). A
``discover_only: true`` job returns the discovery document instead of
ingesting.

The run prints one JSON line: events, batches, final snapshot version and
bookmarks — the ``Output{raw, count}`` analog
(taps/AbstractPythonTap.java:180-194). ``final_rows`` comes from parquet
footer statistics (LakeTable.stats), never a full-table scan. Re-running
with the same checkpoint_id resumes from the epoch fence (exactly-once).
"""

from __future__ import annotations

import argparse
import functools
import importlib
import json
import os
import shutil
import sys
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

# ---------------------------------------------------------------------------
# Source adapters (GenericTap analog: arbitrary reader → same pipeline)
# ---------------------------------------------------------------------------

SourceReader = Callable[[SparkSession, dict], DataFrame]
_SOURCE_READERS: dict[str, SourceReader] = {}


def register_source(name: str, reader: SourceReader) -> None:
    """Register a named source reader callable ``(spark, source_cfg) → DataFrame``.

    The returned DataFrame must carry the change columns the replication
    method needs (``seq`` always; ``op`` for LOG_BASED). This is the
    engine's GenericTap plug point (taps/GenericTap.java:28-77): any
    DataFrame reader — JDBC, a lake table, a custom format — flows through
    the same replay/merge path.
    """
    _SOURCE_READERS[name] = reader


def _resolve_reader(spec: str) -> SourceReader:
    if spec not in _SOURCE_READERS:
        # built-in worked sources self-register on import (sources/__init__)
        importlib.import_module("plugin_singer_spark.sources")
    if spec in _SOURCE_READERS:
        return _SOURCE_READERS[spec]
    if ":" in spec:  # dotted path "pkg.mod:fn"
        mod, attr = spec.rsplit(":", 1)
        fn = getattr(importlib.import_module(mod), attr)
        return fn
    raise KeyError(f"unknown source reader {spec!r} (not registered, not a pkg.mod:fn path)")


# ---------------------------------------------------------------------------
# Sink adapters (the reference's file/generic TARGETS as a job.json key)
# ---------------------------------------------------------------------------

# (records_by_stream, sink_cfg) → {stream: written path/identifier}
SinkWriter = Callable[[dict[str, DataFrame], dict], dict]
_SINK_WRITERS: dict[str, SinkWriter] = {}


def register_sink(name: str, writer: SinkWriter) -> None:
    """Register a named sink writer ``(records_by_stream, sink_cfg) → paths``
    — the GenericTarget plug point (targets/GenericTarget.java:29-68): any
    consumer of per-stream record DataFrames can terminate the pipeline."""
    _SINK_WRITERS[name] = writer


def _write_sink(sink: dict[str, Any], records_by_stream: dict[str, DataFrame]) -> dict[str, str]:
    """Write per-stream files per the ``sink`` config — the reference's
    cheapest targets as a job.json key (CSV targets/Csv.java:52-98, JSONL
    targets/Json.java:32-77: one ``<stream>.<ext>`` per stream, names stable
    so the stream parses back from the filename)."""
    from plugin_singer_spark.sinks.files import (
        write_csv_streams,
        write_jsonl_streams,
        write_parquet_streams,
    )

    fmt = sink.get("format", "jsonl")
    # reference knob name is "compression" (PipelinewiseRedshift.java:269);
    # "codec" accepted as the engine-native alias
    codec = sink.get("codec") or sink.get("compression")
    if fmt == "jsonl":
        return write_jsonl_streams(records_by_stream, sink["path"], codec=codec)
    if fmt == "parquet":
        return write_parquet_streams(
            records_by_stream,
            sink["path"],
            codec=codec,
            partition_by=sink.get("partition_by"),
        )
    if fmt == "jdbc":
        from plugin_singer_spark.sinks.jdbc import write_jdbc_streams

        return write_jdbc_streams(records_by_stream, sink)
    if fmt == "csv":
        return write_csv_streams(
            records_by_stream,
            sink["path"],
            delimiter=sink.get("delimiter", ","),
            quotechar=sink.get("quotechar", '"'),
            header=bool(sink.get("header", True)),
            codec=codec,
        )
    if fmt == "generic":
        spec = sink["writer"]
        if spec in _SINK_WRITERS:
            return _SINK_WRITERS[spec](records_by_stream, sink)
        if ":" in spec:
            mod, attr = spec.rsplit(":", 1)
            return getattr(importlib.import_module(mod), attr)(records_by_stream, sink)
        raise KeyError(f"unknown sink writer {spec!r} (not registered, not a pkg.mod:fn path)")
    raise ValueError(f"unknown sink format {fmt!r}")


def _load_source(spark: SparkSession, src: dict[str, Any]) -> DataFrame:
    """Batch-load one source per its format (scans stay declarative so
    Catalyst pushes the replication filters down into them)."""
    fmt = src.get("format", "parquet")
    if fmt == "parquet":
        return spark.read.parquet(src["path"])
    if fmt == "jsonl":
        from plugin_singer_spark import messages

        schema = T.StructType.fromDDL(
            ", ".join(f"{n} {t}" for n, t in src["columns"].items())
        )
        return messages.parse_records_lean(
            spark.read.text(src["path"]), src.get("stream", "repos"), schema, line_col="value"
        )
    if fmt == "jdbc":
        # JDBC incremental source (PipelinewiseOracle/SqlServer analog):
        # plain options passthrough; partitionColumn/numPartitions in the
        # options dict give the parallel read
        return spark.read.format("jdbc").options(**src.get("options", {})).load()
    if fmt == "generic":
        return _resolve_reader(src["reader"])(spark, src)
    raise ValueError(f"unknown source format {fmt!r}")


# ---------------------------------------------------------------------------
# Load-side transform stages (stream map → flatten → validate → metadata)
# ---------------------------------------------------------------------------

def _build_transform(
    cfg: dict[str, Any],
    quarantine_path: str | None,
    stream_map: dict[str, Any] | None = None,
) -> Callable[[DataFrame], DataFrame] | None:
    """Compile the configured load stages into one DataFrame→DataFrame
    closure, applied per micro-batch before the merge. All stages are pure
    Column expressions — no Python in the row path. ``stream_map`` overrides
    ``cfg["stream_map"]`` (catalog jobs pass per-stream maps).

    Quarantine is an at-least-once SIDE OUTPUT: it is appended before the
    fenced merge commits, so a crash in between can duplicate quarantine
    rows on replay (dedupe downstream on the metadata columns if exactness
    matters there). The main table stays exactly-once — the fence guards the
    commit, not the side output."""
    from plugin_singer_spark.messages import inject_metadata_columns
    from plugin_singer_spark.operators.flatten import flatten
    from plugin_singer_spark.operators.streammap import apply_stream_map
    from plugin_singer_spark.operators.validate import (
        enforce_threshold,
        split_valid,
        validate_records,
    )

    smap = stream_map if stream_map is not None else cfg.get("stream_map")
    stages: list[Callable[[DataFrame], DataFrame]] = []
    if smap:
        stages.append(
            lambda df: apply_stream_map(df, smap, cfg.get("stream_map_config"))[0]
        )
    if cfg.get("flatten"):
        level = int(cfg["flatten"].get("max_level", 1))
        stages.append(lambda df: flatten(df, max_level=level))
    if cfg.get("validate"):
        prev: list[DataFrame] = []

        def _validate(df: DataFrame) -> DataFrame:
            # cache the validated batch: the invalid count, the quarantine
            # append AND the merge all read it — without the cache each of
            # those actions recomputed the full validation plan (ADVICE r2).
            # The previous batch's cache is dropped on the next call; the
            # last one dies with the session.
            if prev:
                prev.pop().unpersist()
            validated = validate_records(df, cfg["validate"]).persist()
            prev.append(validated)
            rep = enforce_threshold(
                validated,
                detect=bool(cfg.get("invalid_records_detect", True)),
                threshold=int(cfg.get("invalid_records_threshold", 0)),
            )
            ok, quarantine = split_valid(validated)
            if rep.invalid > 0 and quarantine_path:
                # persist the rejected rows WITH their failure reasons —
                # the quarantine side output the module contract promises
                quarantine.write.mode("append").parquet(quarantine_path)
            return ok

        stages.append(_validate)
    if cfg.get("add_metadata_columns"):
        stages.append(
            lambda df: inject_metadata_columns(df, extracted_at_col=cfg.get("extracted_at_col"))
        )
    if not stages:
        return None

    def transform(df: DataFrame) -> DataFrame:
        for s in stages:
            df = s(df)
        return df

    return transform


def _shape_records(
    recs: DataFrame, metadata: dict[str, Any], transform: Callable[[DataFrame], DataFrame] | None
) -> DataFrame:
    """A catalog stream's RECORD rows → its load input: default op ``U``,
    the stream's WHERE and limit (taps/BigQuery.java:46-50,128-141 — the
    predicate pushes into the scan; the cap is by ascending seq so it is
    deterministic across partitionings), then the load-side transform."""
    recs = recs.withColumn("op", F.coalesce(F.col("op"), F.lit("U")))
    if metadata.get("where"):
        recs = recs.filter(F.expr(metadata["where"]))
    if metadata.get("limit") is not None:
        recs = recs.orderBy("seq").limit(int(metadata["limit"]))
    return transform(recs) if transform is not None else recs


def _run_sql_hooks(spark: SparkSession, statements: list[str] | None) -> None:
    """before/after SQL hooks (targets/DatamillCoPostgres.java:159-168) —
    run against whatever views the caller registered (stream tables)."""
    for stmt in statements or []:
        spark.sql(stmt)


def _final_rows(table) -> int | None:
    """Scan-free final count: parquet footer stats (exact when the table is
    delta-free — every job path ends compacted). None means 'not derivable
    without a full MOR resolve' — deliberately NOT computed (100 TB rule)."""
    return table.row_count()


def _struct_from_columns(columns: dict[str, str]) -> T.StructType:
    return T.StructType.fromDDL(", ".join(f"{n} {t}" for n, t in columns.items()))


def _open_table(spark: SparkSession, cfg: dict[str, Any]):
    from plugin_singer_spark.lake.table import LakeTable

    tcfg = cfg["table"]
    if LakeTable.exists(tcfg["path"]):
        return LakeTable(spark, tcfg["path"])
    schema = _struct_from_columns(tcfg["columns"])
    props = {}
    if tcfg.get("parallelism"):
        # writer-parallelism knob (targets/PipelinewisePostgres.java:155-156):
        # k write tasks (k files) per bucket — for clusters wider than the
        # bucket count (lake/table.py write_buckets)
        props["write.tasks_per_bucket"] = int(tcfg["parallelism"])
    return LakeTable.create(
        spark, tcfg["path"], schema, tcfg["keys"],
        num_buckets=int(tcfg.get("num_buckets", 64)), properties=props,
    )


def _run_streaming_catalog(spark: SparkSession, cfg: dict[str, Any], catalog) -> dict[str, Any]:
    """Continuous multi-stream sync from config: ONE Structured Streaming
    query demuxes the raw artifact into every selected stream's lake table
    (ingest/streaming.py:stream_multi — per-stream epoch fences, so a crash
    between two streams' merges of one micro-batch replays exactly-once).
    ``batch_wait_limit_seconds`` → processingTime trigger (the long-running
    tail; caller owns the returned query id); absent → bounded availableNow
    run, awaited here. Each stream's ``where`` applies per micro-batch; a
    per-stream ``limit`` is rejected. The reference analog: a tap
    continuously feeding a multi-stream target
    (targets/AbstractPythonTarget.java:72-90)."""
    from plugin_singer_spark.ingest.streaming import stream_multi
    from plugin_singer_spark.lake.table import LakeTable
    from plugin_singer_spark.operators.streammap import ALIAS_KEY
    from plugin_singer_spark.schema import TypeOptions

    src = cfg["source"]
    root = cfg["tables_root"]
    if cfg.get("sink"):
        raise ValueError("streaming catalog jobs write lake tables only (no file sink tee)")
    if any(s.stream_node().metadata.get("limit") is not None for s in catalog.selected()):
        # a row cap has no meaning on an unbounded stream
        raise ValueError("streaming catalog jobs take no per-stream limit")
    topts = TypeOptions(**cfg["type_options"]) if cfg.get("type_options") else None
    prefix = cfg.get("table_prefix", "")
    table_paths = cfg.get("table_paths") or {}
    stream_maps = cfg.get("stream_maps") or {}
    checkpoint_id = cfg.get("checkpoint_id", "catalog")
    mode = cfg.get("write_mode", "mor")

    tables: dict[str, LakeTable] = {}
    schemas: dict[str, T.StructType] = {}
    transforms: dict[str, Any] = {}
    aliases: dict[str, str] = {}
    for s in catalog.selected():
        struct = s.spark_schema(topts)
        cols = list(dict.fromkeys(s.key_properties + s.selected_properties()))
        struct = T.StructType([f for f in struct.fields if f.name in cols])
        schemas[s.stream] = T.StructType(
            list(struct.fields) + [T.StructField("op", T.StringType())]
        )
        smap = stream_maps.get(s.stream)
        t = _build_transform(cfg, cfg.get("quarantine_path"), stream_map=smap)
        alias = ((smap or cfg.get("stream_map") or {}).get(ALIAS_KEY)) or s.stream
        aliases[s.stream] = alias
        tpath = table_paths.get(s.stream) or os.path.join(root, f"{prefix}{alias}")
        keys = s.key_properties or [f.name for f in struct.fields]
        tables[s.stream] = (
            LakeTable(spark, tpath)
            if LakeTable.exists(tpath)
            else LakeTable.create(
                spark, tpath, struct, keys, num_buckets=int(cfg.get("num_buckets", 8))
            )
        )
        transforms[s.stream] = functools.partial(
            _shape_records, metadata=s.stream_node().metadata, transform=t
        )

    before = {
        name: int(t.snapshot().properties.get("total_source_rows", 0))
        for name, t in tables.items()
    }
    wait = cfg.get("batch_wait_limit_seconds")
    q = stream_multi(
        spark,
        tables,
        schemas,
        src["path"],
        cfg.get("stream_checkpoint_dir") or os.path.join(root, "_stream_ckpt"),
        checkpoint_id=checkpoint_id,
        max_files_per_trigger=int(src.get("files_per_batch", 4)),
        available_now=wait is None,
        processing_time=(f"{int(wait)} seconds" if wait is not None else None),
        transforms=transforms,
        mode=mode,
    )
    out: dict[str, Any] = {"streaming": True, "streams": {}}
    if wait is None:
        q.awaitTermination()
        from plugin_singer_spark.lake.merge import compact

        for name, t in tables.items():
            if mode == "mor":
                compact(t, min_delta_files=1)  # read-optimized + exact footer stats
            out["streams"][aliases[name]] = {
                "events": int(t.snapshot().properties.get("total_source_rows", 0))
                - before[name],
                "final_rows": _final_rows(t),
                "table": t.root,
            }
    else:
        out["query_id"] = str(q.id)  # caller owns the long-running query
    return out


def run_catalog_job(spark: SparkSession, cfg: dict[str, Any]) -> dict[str, Any]:
    """Multi-stream catalog-driven sync — the reference's catalog.json path.

    ``cfg["catalog"]`` is a Singer discovery document
    (models/DiscoverStreams.java:8-10) or the string ``"discover"`` to
    bootstrap it from the raw artifact (the ``--discover`` run,
    taps/AbstractPythonTap.java:149-163 — in-band SCHEMA messages win,
    schema-less streams are inferred from their records).
    ``cfg["streams_configurations"]`` are selection rules applied with
    last-config-wins regex semantics (services/SelectedService.java:13-68).
    Every SELECTED stream is demuxed out of the shared raw artifact, pruned
    to its selected properties (true column pruning before any shuffle), and
    merged into its own lake table under ``tables_root/<stream>`` using the
    stream's replication method. LOG_BASED streams run one epoch of the
    shared CDC step (ingest/streaming.py): fenced on ``(checkpoint_id,
    epoch)`` so re-running the same artifact is a no-op, ACTIVATE_VERSION
    resyncs applied, then compacted so tables stay read-optimized and
    counts come from footer stats. Per-stream record counts are reported like the
    reference's per-stream metrics (JsonTest.java:61-62: 8 category + 4
    region).

    Naming / routing (the reference's schema-mapping knobs):
    - ``stream_maps``: {stream: stream-map dict} — per-stream maps; a map's
      ``__alias__`` RENAMES the stream, and the alias names the table dir,
      the SQL-hook view and the report key (targets/Oracle.java:111-118).
      ``stream_map`` (singular) still applies one map to every stream.
    - ``table_prefix``: prepended to every table dir name
      (``default_target_schema``/``table_prefix``,
      targets/SqlServer.java:113-117).
    - ``table_paths``: {stream: absolute path} per-stream override
      (``schema_mapping``, targets/PipelinewisePostgres.java:164-169).
    - ``sink``: {"format": "jsonl"|"csv"|"generic", "path"|..., ...} — write
      one ``<stream>.<ext>`` file per selected stream (the reference's file
      targets). With ``tables_root`` absent the job is a pure tap→file run
      (no lake tables); with both, the sink tees the post-transform records
      (a fenced LOG_BASED stream is skipped whole, so it tees nothing).
    """
    from plugin_singer_spark import messages
    from plugin_singer_spark.catalog import (
        StreamsConfiguration,
        catalog_from_discovery,
        discover_from_jdbc,
        discover_from_jsonl,
        fill,
        infer_metadata,
        to_discovery_doc,
    )
    from plugin_singer_spark.ingest.pipeline import sync_full_table, sync_incremental, seq_bookmark
    from plugin_singer_spark.ingest.streaming import _epoch_step
    from plugin_singer_spark.lake.merge import compact
    from plugin_singer_spark.lake.table import LakeTable

    src = cfg["source"]
    src_fmt = src.get("format", "jsonl")
    jdbc_opts = dict(src.get("options", {})) if src_fmt == "jdbc" else {}
    if cfg.get("catalog") in (None, "discover"):
        if src_fmt == "jdbc":
            # DB-tap discovery: streams/schemas/keys from JDBC metadata
            # (the reference DB taps' --discover; filter_schemas analog is
            # source.schema_pattern — taps/PipelinewisePostgres.java:120-123)
            catalog = discover_from_jdbc(
                spark,
                jdbc_opts["url"],
                driver=jdbc_opts.get("driver"),
                schema_pattern=src.get("schema_pattern"),
                properties={
                    k: v for k, v in jdbc_opts.items() if k in ("user", "password")
                },
            )
        else:
            catalog = discover_from_jsonl(spark, src["path"])
    else:
        catalog = catalog_from_discovery(cfg["catalog"])
    for s in catalog.streams:
        infer_metadata(s)  # bootstrap metadata for bare discovery docs
    catalog = fill(
        catalog,
        [StreamsConfiguration(**c) for c in cfg.get("streams_configurations", [])],
    )
    if cfg.get("discover_only"):
        return {"discovered": to_discovery_doc(catalog)}
    root = cfg.get("tables_root")
    sink = cfg.get("sink")
    if root is None and sink is None:
        raise ValueError("catalog job needs tables_root and/or sink")
    if cfg.get("streaming"):
        return _run_streaming_catalog(spark, cfg, catalog)
    mode = cfg.get("write_mode", "mor")
    checkpoint_id = cfg.get("checkpoint_id", "catalog")
    epoch = int(cfg.get("epoch", 0))
    persist_empty = bool(cfg.get("persist_empty_tables", True))
    raw_lines = spark.read.text(src["path"]) if src_fmt != "jdbc" else None
    stream_maps = cfg.get("stream_maps") or {}
    prefix = cfg.get("table_prefix", "")
    table_paths = cfg.get("table_paths") or {}
    default_transform = _build_transform(cfg, cfg.get("quarantine_path"))

    from plugin_singer_spark.schema import TypeOptions

    # schema-conversion preferences from the job config — the connectors'
    # type knobs (use_singer_decimal taps/PipelinewiseSqlServer.java:112-116,
    # use_date_datatype :96-100, prefer_float_over_numeric
    # targets/Oracle.java:107-110)
    topts = TypeOptions(**cfg["type_options"]) if cfg.get("type_options") else None

    # in-band SCHEMA messages evolve each stream's parse struct mid-stream
    # (SURVEY §1.3): new columns flow through, the merge widens the table —
    # the catalog schema is the baseline, not a ceiling
    from plugin_singer_spark.lake.evolution import evolve_schema

    inband: dict[str, T.StructType] = {}
    if raw_lines is not None:
        env = messages.parse_lines(raw_lines, line_col="value", seq_from_envelope=True)
        for _seq, s_name, struct_ib, _keys in messages.collect_schemas(env, topts):
            inband[s_name] = (
                struct_ib if s_name not in inband else evolve_schema(inband[s_name], struct_ib)
            )

    report: dict[str, Any] = {}
    sink_records: dict[str, DataFrame] = {}
    for s in catalog.selected():
        struct = s.spark_schema(topts)
        keep = [p for p in s.selected_properties()]
        # keys are always kept (inclusion=automatic in the reference)
        cols = list(dict.fromkeys(s.key_properties + keep))
        struct = T.StructType([f for f in struct.fields if f.name in cols])
        if s.stream in inband:
            # columns the catalog doesn't know yet (mid-stream ADD COLUMN)
            known = set(f.name for f in s.spark_schema(topts).fields)
            extra = [f for f in inband[s.stream].fields if f.name not in known]
            struct = evolve_schema(struct, T.StructType(list(struct.fields) + extra))
        md = s.stream_node().metadata
        recs = None  # the JDBC scan; JSONL records parse per epoch in shape()
        if src_fmt == "jdbc":
            # relational stream: Spark's distributed JDBC scan of the
            # discovered table, pruned to the selected columns AT THE
            # SOURCE (the dbtable subquery pushes projection into the DB —
            # the tap-side pruning of SelectedService). `seq` synthesizes
            # from the replication key so LWW/bookmarks order correctly;
            # LOG_BASED does not apply to snapshot reads.
            cols_sql = ", ".join(cols) or "*"
            tbl = s.table_name or s.stream
            q = f"(SELECT {cols_sql} FROM {tbl}) spark_src"
            recs = (
                spark.read.format("jdbc")
                .options(**jdbc_opts)
                .option("dbtable", q)
                .load()
            )
            recs = recs.toDF(*[c.lower() for c in recs.columns])
            _method, _rk = s.replication()
            if _rk and _rk in recs.columns:
                # type-aware: a timestamp/date/string replication key must
                # not cast to NULL seq (LWW would see every row as oldest)
                rk_type = recs.schema[_rk].dataType
                if isinstance(rk_type, T.TimestampType):
                    seq_src = F.unix_micros(F.col(_rk))
                elif isinstance(rk_type, T.DateType):
                    seq_src = F.datediff(F.col(_rk), F.lit("1970-01-01")).cast("long")
                elif isinstance(rk_type, (T.StringType, T.VarcharType, T.CharType)):
                    # orderable but not numeric: snapshot rows are unique
                    # per key anyway; bookmarks use the key column itself
                    seq_src = F.monotonically_increasing_id()
                else:
                    seq_src = F.col(_rk).cast("long")
            else:
                seq_src = F.monotonically_increasing_id()
            recs = recs.withColumn("seq", seq_src).withColumn("op", F.lit("U"))
        else:
            struct = T.StructType(list(struct.fields) + [T.StructField("op", T.StringType())])
        smap = stream_maps.get(s.stream)
        transform = (
            _build_transform(cfg, cfg.get("quarantine_path"), stream_map=smap)
            if smap is not None
            else default_transform
        )
        # __alias__ renames the stream: table dir, view, sink file and
        # report key all carry the new name (targets/Oracle.java:111-118)
        from plugin_singer_spark.operators.streammap import ALIAS_KEY

        alias = ((smap or cfg.get("stream_map") or {}).get(ALIAS_KEY)) or s.stream
        tpath = None if root is None else (
            table_paths.get(s.stream) or os.path.join(root, f"{prefix}{alias}")
        )

        def shape(lines: DataFrame | None) -> DataFrame:
            """The stream's load input from the raw ``lines`` (or the JDBC
            scan), teed to the sink; on the stream's first sync its table is
            created from the shaped schema."""
            out = recs
            if lines is not None:
                env = messages.parse_lines(lines, line_col="value", seq_from_envelope=True)
                out = messages.records_for_stream(env, s.stream, struct, keep_envelope=("seq",))
            out = _shape_records(out, md, transform)
            if sink is not None:
                sink_records[alias] = out.drop(*[c for c in ("op", "seq") if c in out.columns])
            if tpath is not None and not LakeTable.exists(tpath):
                tschema = T.StructType([f for f in out.schema.fields if f.name not in ("op", "seq")])
                # keyless stream (e.g. discovered from raw records, where the
                # source metadata that names PKs isn't available): full-row
                # identity key — append-only semantics, like reference targets
                # without a PK (primary_key_required=false,
                # targets/PipelinewisePostgres.java:160)
                keys = s.key_properties or [f.name for f in tschema.fields]
                LakeTable.create(spark, tpath, tschema, keys, num_buckets=int(cfg.get("num_buckets", 8)))
            return out

        if root is None:
            shape(raw_lines)
            report[alias] = {"events": sink_records[alias].count(), "table": None}
            if alias != s.stream:
                report[alias]["source_stream"] = s.stream
            continue
        method, repl_key = s.replication()
        default_method = "FULL_TABLE" if src_fmt == "jdbc" else "LOG_BASED"
        method = (method or cfg.get("replication_method", default_method)).upper()
        if src_fmt == "jdbc" and method == "LOG_BASED":
            raise ValueError(
                f"stream {s.stream!r}: LOG_BASED replication needs a change "
                "stream; a JDBC snapshot source supports FULL_TABLE or "
                "INCREMENTAL (use the binlog/jsonl source for CDC)"
            )
        if method == "INCREMENTAL" and not repl_key:
            raise ValueError(
                f"stream {s.stream!r}: INCREMENTAL replication requires a "
                "replication-key (services/SelectedService.java:57-61)"
            )
        created = not LakeTable.exists(tpath)
        table = LakeTable(spark, tpath)
        if method == "INCREMENTAL":
            shaped = shape(raw_lines)
            rep = sync_incremental(
                table, shaped, replication_key=repl_key, stream=s.stream,
                bookmark=seq_bookmark(table, s.stream),
            )
        elif method == "FULL_TABLE":
            rep = sync_full_table(table, shape(raw_lines), stream=s.stream)
        else:
            # one epoch of the shared step: fenced on (checkpoint_id, epoch),
            # ACTIVATE_VERSION resyncs applied after the merge
            rep = _epoch_step(table, s.stream, epoch, checkpoint_id, raw_lines, parse=shape, mode=mode)
            compact(table, min_delta_files=1)
        if rep.record_count == 0 and created and not persist_empty:
            shutil.rmtree(tpath, ignore_errors=True)
            report[alias] = {"events": 0, "table": None, "replication_method": method}
            continue
        table.read().createOrReplaceTempView(alias)  # lazy — for SQL hooks
        report[alias] = {
            "events": rep.record_count,
            "final_rows": _final_rows(table),
            "table": tpath,
            "replication_method": method,
            "columns": [f.name for f in table.snapshot().schema.fields],
        }
        if alias != s.stream:
            report[alias]["source_stream"] = s.stream
    out: dict[str, Any] = {"streams": report}
    if sink is not None and sink_records:
        paths = _write_sink(sink, sink_records)
        for name, p in paths.items():
            report.setdefault(name, {})["sink_path"] = p
        out["sink"] = paths
    _run_sql_hooks(spark, cfg.get("after_sql"))
    return out


def run_job(spark: SparkSession, cfg: dict[str, Any]) -> dict[str, Any]:
    if "catalog" in cfg or "tables_root" in cfg:
        return run_catalog_job(spark, cfg)
    from plugin_singer_spark.ingest.pipeline import sync_full_table, sync_incremental, seq_bookmark
    from plugin_singer_spark.ingest.streaming import replay_chunked, replay_files
    from plugin_singer_spark.lake.table import LakeTable

    src = cfg["source"]
    stream = src.get("stream", "repos")
    from plugin_singer_spark.operators.streammap import ALIAS_KEY

    alias = (cfg.get("stream_map") or {}).get(ALIAS_KEY) or stream
    method = cfg.get("replication_method", "LOG_BASED").upper()
    mode = cfg.get("write_mode", "mor")
    checkpoint_id = cfg.get("checkpoint_id", "job")

    if "table" not in cfg:
        # pure tap→file job: the reference's file targets ARE the terminal
        # target (targets/Csv.java, targets/Json.java) — no lake table
        if not cfg.get("sink"):
            raise ValueError("job needs a table and/or a sink")
        df = _load_source(spark, src)
        transform = _build_transform(cfg, cfg.get("quarantine_path"))
        if transform is not None:
            df = transform(df)
        out_df = df.drop(*[c for c in ("op", "seq") if c in df.columns])
        paths = _write_sink(cfg["sink"], {alias: out_df})
        n = out_df.count()
        return {
            "stream": alias,
            "events": n,
            "batches": 1,
            "sink": paths,
            "metrics": [
                {
                    "type": "counter",
                    "metric": "singer.record.count",
                    "value": n,
                    "tags": {"stream": alias.lower()},
                }
            ],
        }

    tcfg = cfg["table"]
    quarantine_path = cfg.get("quarantine_path") or (
        tcfg["path"].rstrip("/") + "_quarantine" if cfg.get("validate") else None
    )
    transform = _build_transform(cfg, quarantine_path)

    if cfg.get("before_sql"):
        if LakeTable.exists(tcfg["path"]):
            LakeTable(spark, tcfg["path"]).read().createOrReplaceTempView(alias)
        _run_sql_hooks(spark, cfg["before_sql"])

    table = _open_table(spark, cfg)
    epoch_secs: list[float] = []

    if method == "LOG_BASED" and src.get("format", "parquet") in ("parquet", "jsonl"):
        record_schema = None
        if src.get("format", "parquet") == "jsonl":
            cols = dict(cfg["table"]["columns"])
            cols.setdefault("op", "string")
            record_schema = _struct_from_columns(cols)
        if cfg.get("streaming"):
            # Structured Streaming driver: Spark checkpoint + epoch fence.
            # batch_wait_limit_seconds (targets/PipelinewiseSnowflake.java:
            # 300-304) maps to a processingTime trigger; absent, the run is
            # bounded (availableNow ≈ break_at_end_lsn).
            from plugin_singer_spark.ingest.streaming import stream_binlog

            # monotonic snapshot-property counter, NOT a sum over lineage:
            # lineage is capped at the last 1000 records, so a lineage sum
            # over-counts past 1000 commits (VERDICT r2 #5)
            events_before = int(table.snapshot().properties.get("total_source_rows", 0))
            wait = cfg.get("batch_wait_limit_seconds")
            q = stream_binlog(
                spark,
                table,
                src["path"],
                cfg.get("stream_checkpoint_dir") or (tcfg["path"].rstrip("/") + "_ckpt"),
                stream=stream,
                checkpoint_id=checkpoint_id,
                max_files_per_trigger=int(src.get("files_per_batch", 8)),
                available_now=wait is None,
                processing_time=(f"{int(wait)} seconds" if wait is not None else None),
                input_format=src.get("format", "parquet"),
                record_schema=record_schema,
                transform=transform,
                mode=mode,
            )
            if wait is None:
                q.awaitTermination()
            out = {
                # this run's events only: counter delta (a fenced re-run
                # commits nothing, so the delta is correctly 0)
                "events": int(table.snapshot().properties.get("total_source_rows", 0))
                - events_before,
                "batches": table.last_committed_epoch(checkpoint_id) + 1,
                "streaming": True,
            }
            if wait is not None:
                out["query_id"] = str(q.id)  # caller owns the long-running query
        else:
            archive_dir = None
            if cfg.get("archive_load_files"):
                # retain consumed raw files per epoch, pointer in lineage
                # (archive_load_files, PipelinewiseSnowflake.java:368-376)
                archive_dir = cfg.get("archive_path") or (tcfg["path"].rstrip("/") + "_archive")
            stats = replay_files(
                spark,
                table,
                src["path"],
                files_per_batch=int(src.get("files_per_batch", 8)),
                stream=stream,
                checkpoint_id=checkpoint_id,
                input_format=src.get("format", "parquet"),
                record_schema=record_schema,
                mode=mode,
                compact_every=cfg.get("compact_every"),
                compact_rotate=cfg.get("compact_rotate"),
                transform=transform,
                archive_dir=archive_dir,
            )
            out = {"events": stats.events, "batches": stats.batches}
            epoch_secs = stats.epoch_secs
    elif method == "LOG_BASED":
        # generic/jdbc CDC source: a DataFrame of change events replayed in
        # seq-range micro-batches through the same fenced merge
        stats = replay_chunked(
            table,
            _load_source(spark, src),
            batch_events=int(src.get("batch_events", 1_000_000)),
            stream=stream,
            checkpoint_id=checkpoint_id,
            mode=mode,
            compact_every=cfg.get("compact_every"),
            compact_rotate=cfg.get("compact_rotate"),
            final_compact=(mode == "mor"),
            transform=transform,
        )
        out = {"events": stats.events, "batches": stats.batches}
        epoch_secs = stats.epoch_secs
    elif method == "INCREMENTAL":
        key = cfg["replication_key"]
        df = _load_source(spark, src)
        if transform is not None:
            df = transform(df)
        rep = sync_incremental(
            table,
            df,
            replication_key=key,
            stream=stream,
            bookmark=seq_bookmark(table, stream),
            inclusive=bool(cfg.get("start_always_inclusive", True)),
        )
        out = {"events": rep.record_count, "batches": 1}
    elif method == "FULL_TABLE":
        df = _load_source(spark, src)
        if transform is not None:
            df = transform(df)
        rep = sync_full_table(
            table, df, stream=stream, truncate=cfg.get("load_method", "truncate") == "truncate"
        )
        out = {"events": rep.record_count, "batches": 1}
    else:
        raise ValueError(f"unknown replication_method {method!r}")

    # Singer METRIC parity (AbstractPythonSinger.java:322-356): the per-run
    # counter AND the per-batch duration timers the reference extracts from
    # tap stderr (models/Metric.java:10-22, counter/timer switch at
    # AbstractPythonSinger.java:229-236), with the same ``singer.`` prefix +
    # ``[_-]→.`` name mangling and lowercased tag values (ingest/metrics.py)
    from plugin_singer_spark.ingest.metrics import Metric

    job_metrics = [
        Metric(type="counter", metric="record_count", value=out["events"], tags={"stream": alias})
    ] + [
        Metric(type="timer", metric="batch_duration", value=sec, tags={"stream": alias, "batch": i})
        for i, sec in enumerate(epoch_secs)
    ]
    out.update(
        {
            "stream": alias,
            "snapshot_version": table.current_version(),
            "bookmarks": table.bookmarks(),
            "final_rows": _final_rows(table),
            "metrics": [
                {"type": m.type, "metric": m.qualified_name, "value": m.value, "tags": m.mangled_tags()}
                for m in job_metrics
            ],
        }
    )
    if cfg.get("after_sql"):
        table.read().createOrReplaceTempView(alias)
        _run_sql_hooks(spark, cfg["after_sql"])
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="plugin_singer_spark ingest job")
    ap.add_argument("--config", required=True, help="path to job.json")
    ap.add_argument("--master", default=None, help="override master (default: env/local[*])")
    args = ap.parse_args(argv)
    with open(args.config) as f:
        cfg = json.load(f)

    from plugin_singer_spark.session import get_spark

    spark = get_spark(app_name=cfg.get("app_name", "singer-spark-job"), master=args.master)
    out = run_job(spark, cfg)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
