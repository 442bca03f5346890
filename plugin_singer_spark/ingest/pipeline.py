"""Batch ingest pipelines — the tap→target lifecycle as Spark plans.

Replication methods (models/DiscoverMetadata.java:86-90, assigned by
services/SelectedService.java:57-61):

- FULL_TABLE  → :func:`sync_full_table` (overwrite or append, mirroring the
  BigQuery target's append/truncate enum, targets/AdswerveBigQuery.java:68-72).
- INCREMENTAL → :func:`sync_incremental` (bookmark filter on the replication
  key; contract: first run all rows, rerun only rows past the bookmark —
  PipelinewiseMysqlTest.java:59-66 8→1 with the inclusive edge,
  BigQueryTest.java:72-76 exclusive → 0; knob ``start_always_inclusive``
  taps/BigQuery.java:52-58).
- LOG_BASED   → :func:`replay_cdc` (binlog replay from a stored sequence,
  the engine's WAL/binlog/oplog tail — taps/PipelinewisePostgres.java:69-91).

Each returns an :class:`IngestReport` (count + bookmarks + snapshot), the
engine's ``Output{raw, count}`` analog (taps/AbstractPythonTap.java:180-194).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, functions as F

from plugin_singer_spark.lake.evolution import cast_to, evolve_schema
from plugin_singer_spark.lake.merge import merge_append, merge_into
from plugin_singer_spark.lake.table import LakeTable, bucket_expr


@dataclass
class IngestReport:
    stream: str
    record_count: int
    snapshot_version: int
    bookmarks: dict[str, Any] = field(default_factory=dict)
    metrics: dict[str, Any] = field(default_factory=dict)


def sync_full_table(
    table: LakeTable,
    records: DataFrame,
    stream: str = "repos",
    truncate: bool = True,
    seq_col: str | None = "seq",
) -> IngestReport:
    """FULL_TABLE replication: truncate ⇒ replace all buckets atomically;
    append ⇒ merge with insert-only semantics."""
    snap = table.snapshot()
    if not truncate:
        rep = merge_into(table, records, seq_col=seq_col or "seq", op_col=None, skip_updates=True)
        version = rep.version if rep is not None else table.current_version()
        n = table.row_count()  # footer stats — no full-table scan
        if n is None:
            n = table.read().count()
        return IngestReport(stream, n, version, table.bookmarks())
    schema = evolve_schema(snap.schema, records.drop(*(c for c in (seq_col, "op") if c and c in records.columns)).schema)
    data = cast_to(records, schema).withColumn("_bucket", bucket_expr(snap.key_columns, snap.num_buckets))
    files = table.write_buckets(data, schema)
    new = table.commit(files, schema=schema, lineage_record={"mode": "full_table_overwrite", "stream": stream})
    n = table.row_count()  # fresh overwrite is delta-free ⇒ exact, scan-free
    if n is None:
        n = table.read().count()
    return IngestReport(stream, n, new.version, table.bookmarks())


def sync_incremental(
    table: LakeTable,
    records: DataFrame,
    replication_key: str,
    stream: str = "repos",
    bookmark: Any | None = None,
    inclusive: bool = True,
    seq_col: str = "seq",
    **merge_kwargs: Any,
) -> IngestReport:
    """INCREMENTAL replication: keep only rows whose replication key passes
    the bookmark, merge them, and advance the bookmark to max(key). The
    filter is a plain comparison so it pushes down to the source scan
    (Catalyst PushDownPredicates — the engine-side analog of the tap's
    source-side WHERE, taps/BigQuery.java:136-140)."""
    incoming = records
    if bookmark is not None:
        cmp = F.col(replication_key) >= F.lit(bookmark) if inclusive else F.col(replication_key) > F.lit(bookmark)
        incoming = incoming.filter(cmp)

    agg = incoming.agg(
        F.count(F.lit(1)).alias("n"), F.max(replication_key).alias("hwm")
    ).collect()[0]
    n, hwm = agg["n"], agg["hwm"]
    if n == 0:
        snap = table.snapshot()
        return IngestReport(stream, 0, snap.version, table.bookmarks())

    new_bm = {stream: {"replication_key": replication_key, "replication_key_value": _json_safe(hwm)}}
    rep = merge_into(
        table,
        incoming,
        seq_col=seq_col,
        properties={"bookmarks": new_bm},
        lineage_record={"mode": "incremental", "stream": stream, "replication_key": replication_key},
        **merge_kwargs,
    )
    return IngestReport(stream, n, rep.version, table.bookmarks())


def replay_cdc(
    table: LakeTable,
    binlog: DataFrame,
    stream: str = "repos",
    from_seq: int | None = None,
    to_seq: int | None = None,
    seq_col: str = "seq",
    op_col: str = "op",
    epoch: int | None = None,
    checkpoint_id: str | None = None,
    envelope_cols: tuple[str, ...] = ("ts",),
    mode: str = "cow",
    lineage_extra: dict[str, Any] | None = None,
    refence: bool = False,
    **merge_kwargs: Any,
) -> IngestReport:
    """LOG_BASED replication: replay change events in (from_seq, to_seq],
    LWW-merge them, advance the seq bookmark; optionally fence on an epoch
    for exactly-once under retries.

    ``mode='cow'`` rewrites touched buckets (read-optimized); ``mode='mor'``
    appends delta files (write-optimized — the high-churn replay path; pair
    with lake.merge.compact).

    The seq-range predicate prunes at the scan (binlog parquet is naturally
    range-ordered; at cluster scale the binlog would be partitioned by seq
    range and this becomes partition pruning). Counts, bookmark high-water
    mark and the commit all ride the ONE merge job (no pre-scan)."""
    # envelope-only columns (event time etc.) are not data — keep them out of
    # schema evolution; _sdc_extracted_at injection is an explicit opt-in
    ev = binlog.drop(*[c for c in envelope_cols if c in binlog.columns])
    if from_seq is not None:
        ev = ev.filter(F.col(seq_col) > F.lit(from_seq))
    if to_seq is not None:
        ev = ev.filter(F.col(seq_col) <= F.lit(to_seq))

    if epoch is not None and checkpoint_id is not None and not refence:
        # ``refence=True`` bypasses the skip for a PARTIAL tail epoch the
        # caller knows has since grown (replay_chunked's resume) — safe
        # because the merge is LWW-idempotent for the already-applied rows
        skipped = fenced_skip(table, stream, epoch, checkpoint_id)
        if skipped is not None:
            return skipped

    props: dict[str, Any] = {}
    if epoch is not None and checkpoint_id is not None:
        props["epochs"] = {checkpoint_id: epoch}
    merge_fn = merge_append if mode == "mor" else merge_into
    snap = merge_fn(
        table,
        ev,
        seq_col=seq_col,
        op_col=op_col,
        properties=props,
        bookmark_stream=stream,
        lineage_record={
            "mode": f"log_based_{mode}",
            "stream": stream,
            "offset_from": from_seq,
            "epoch": epoch,
            **(lineage_extra or {}),
        },
        **merge_kwargs,
    )
    if snap is None:  # empty seq range — nothing committed
        cur = table.snapshot()
        return IngestReport(stream, 0, cur.version, table.bookmarks())
    rec = snap.lineage[-1]
    return IngestReport(
        stream,
        int(rec.get("source_rows") or 0),
        snap.version,
        table.bookmarks(),
        {"max_seq": rec.get("max_seq"), "dedup_rows": rec.get("dedup_rows")},
    )


def fenced_skip(table: LakeTable, stream: str, epoch: int, checkpoint_id: str) -> IngestReport | None:
    """The report of a skipped epoch when ``epoch`` is at or below the
    table's committed fence for ``checkpoint_id``, else None."""
    fence = table.last_committed_epoch(checkpoint_id)
    if epoch > fence:
        return None
    return IngestReport(
        stream, 0, table.current_version(), table.bookmarks(), {"skipped_epoch": epoch, "fence": fence}
    )


def seq_bookmark(table: LakeTable, stream: str = "repos") -> int | None:
    bm = table.bookmarks().get(stream)
    if not bm:
        return None
    return bm.get("replication_key_value")


def _json_safe(v: Any) -> Any:
    """Manifest properties are JSON — normalize numpy/decimal/datetime."""
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if hasattr(v, "item"):
        return v.item()
    return v
