"""CDC replay: four drivers over one epoch step.

Each driver cuts its input into epochs and hands every epoch of every
stream to :func:`_epoch_step` — the reference's per-message demux loop
(targets/AbstractPythonTarget.java:72-90) as one fenced commit:
epoch-fence check (before any transform, so side outputs such as
quarantine are not re-appended on replay) → RECORD parse → ``transform``
→ archive → :func:`replay_cdc` (data, bookmark and fence in one atomic
snapshot swap) → ACTIVATE_VERSION: a substring flag rides the merge's
scan of raw JSONL, and only a flagged epoch pays ``scan_activation_fence``
and ``activate_version``.

- :func:`replay_chunked` — seq-range epochs over a change-event DataFrame
  (``trigger(availableNow=True)`` ≈ ``break_at_end_lsn``,
  taps/PipelinewisePostgres.java:75-79); boundaries are bit-identical
  across parallelism levels.
- :func:`replay_files` — file-granular epochs over a staged parquet or
  raw Singer JSONL directory; the benchmarked replay path.
- :func:`stream_binlog` — Structured Streaming file source, one epoch per
  ``foreachBatch`` micro-batch (``maxFilesPerTrigger`` ≈ the reference's
  ``export_batch_rows``, taps/PipelinewiseMysql.java:93-96): Spark's
  checkpoint tracks offsets, the epoch fence makes the sink idempotent.
- :func:`stream_multi` — one streaming query over a raw JSONL artifact,
  each micro-batch demuxed to every stream's table.

The catalog job's LOG_BASED streams (``job.run_catalog_job``) use the same
step. Resume: every driver reads the committed fence / seq bookmark from
the table snapshot and continues mid-stream.
"""

from __future__ import annotations

import glob
import itertools
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F

from plugin_singer_spark import messages
from plugin_singer_spark.ingest.pipeline import IngestReport, fenced_skip, replay_cdc, seq_bookmark
from plugin_singer_spark.lake import merge
from plugin_singer_spark.lake.table import LakeTable


@dataclass
class ReplayStats:
    events: int = 0
    batches: int = 0
    reports: list[IngestReport] = field(default_factory=list)
    # wall seconds per committed epoch — min over epochs is the steady-state
    # throughput estimator used by the scaling bench (first epoch carries
    # JIT/codegen warmup; interference bursts inflate individual epochs).
    # Mid-replay compactions (compact_every) are inside their epoch's time;
    # the end-of-replay compaction is timed separately so callers can
    # amortize it into throughput instead of silently excluding it.
    epoch_secs: list[float] = field(default_factory=list)
    final_compact_sec: float = 0.0


def _epoch_step(
    table: LakeTable,
    stream: str,
    epoch: int,
    checkpoint_id: str,
    source: DataFrame,
    parse: Callable[[DataFrame], DataFrame] | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    archive: Callable[[], list[str]] | None = None,
    refence: bool = False,
    **replay_kwargs: Any,
) -> IngestReport:
    """One epoch of one stream → one fenced commit (steps in the module
    docstring). ``source`` is the epoch's typed change rows, or — with
    ``parse`` — its raw Singer JSONL lines (column ``value``), which
    ``parse`` turns into RECORD rows. ``archive`` retains the raw input and
    returns the archived paths for the lineage record. ``refence`` re-runs
    a committed epoch (replay_chunked's grown tail)."""
    if not refence:
        skipped = fenced_skip(table, stream, epoch, checkpoint_id)
        if skipped is not None:
            return skipped
    flag = None
    ev = source
    if parse is not None:
        # the flag rides the merge's scan (below json_tuple, so it cannot
        # block the parse's column pruning — messages.observe_fence_flag)
        flagged, flag = messages.observe_fence_flag(source, line_col="value")
        ev = parse(flagged)
    if transform is not None:
        ev = transform(ev)
    lineage_extra = {"archive": archive()} if archive is not None else None
    rep = replay_cdc(
        table, ev, stream=stream, epoch=epoch, checkpoint_id=checkpoint_id,
        lineage_extra=lineage_extra, refence=refence, **replay_kwargs,
    )
    # a skipped epoch never ran the scan (flag.get would block); its
    # activation was applied by the run that committed it
    if flag is not None and "skipped_epoch" not in rep.metrics and flag.get.get("has_fence") is not None:
        fence = messages.scan_activation_fence(source, stream, line_col="value")
        if fence is not None:
            merge.activate_version(table, below_seq=fence)
    return rep


def _rotation_shard(table, rotate: int | None, wave_idx: int) -> list[int] | None:
    """Staggered-compaction shard: wave i compacts only buckets with
    ``b % rotate == i % rotate`` (None = every bucket, the full profile).

    Each periodic compaction wave rewrites the base of every bucket it
    touches, so the full profile's wave cost grows O(table) as the base
    grows — fine amortized, but the wave itself becomes the replay's
    longest pause. Rotating shards caps each wave at ~1/rotate of the
    table (flat cost curve) at the price of buckets carrying up to
    ``compact_every×rotate`` deltas between their turns — the standard
    staggered/partial-compaction trade (Paimon's num-sorted-run triggers,
    Hudi's inline-compaction scheduling)."""
    if not rotate or rotate <= 1:
        return None
    n = table.snapshot().num_buckets
    return [b for b in range(n) if b % rotate == wave_idx % rotate]


def _replay_epochs(
    table: LakeTable,
    stream: str,
    checkpoint_id: str,
    epochs: Iterable[tuple[int, dict[str, Any]]],
    max_batches: int | None,
    mode: str,
    compact_every: int | None,
    compact_rotate: int | None,
    final_compact: bool,
    on_batch: Callable[[IngestReport], None] | None = None,
    **merge_kwargs: Any,
) -> ReplayStats:
    """The batch drivers' loop: each ``(epoch, step arguments)`` — drawn
    lazily, at most ``max_batches`` — through :func:`_epoch_step`, then the
    MOR compaction cadence: a wave after every ``compact_every``-th epoch
    of the stream (absolute epoch count, so a resumed run keeps the
    cadence), and one final compaction (``final_compact``)."""
    stats = ReplayStats()
    t0 = time.time()  # an epoch's time includes drawing it (its source scan set-up)
    for epoch, step in itertools.islice(epochs, max_batches):
        rep = _epoch_step(table, stream, epoch, checkpoint_id, mode=mode, **step, **merge_kwargs)
        stats.events += rep.record_count
        stats.batches += 1
        stats.reports.append(rep)
        if on_batch:
            on_batch(rep)
        done = epoch + 1
        if mode == "mor" and compact_every and done % compact_every == 0:
            merge.compact(table, min_delta_files=max(1, compact_every),
                          buckets=_rotation_shard(table, compact_rotate, done // compact_every))
        now = time.time()
        stats.epoch_secs.append(round(now - t0, 3))
        t0 = now
    if mode == "mor" and final_compact:
        t0 = time.time()
        merge.compact(table, min_delta_files=1)
        stats.final_compact_sec = round(time.time() - t0, 3)
    return stats


def replay_chunked(
    table: LakeTable,
    binlog: DataFrame,
    batch_events: int = 1_000_000,
    stream: str = "repos",
    checkpoint_id: str = "replay",
    max_batches: int | None = None,
    resume: bool = True,
    on_batch: Callable[[IngestReport], None] | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    mode: str = "cow",
    compact_every: int | None = None,
    final_compact: bool = False,
    compact_rotate: int | None = None,
    **merge_kwargs: Any,
) -> ReplayStats:
    """Replay the binlog in fixed seq-range micro-batches with epoch fencing.

    Epoch i covers seqs (i*batch_events, (i+1)*batch_events]. Epoch number
    doubles as the fence value, so a re-run (same checkpoint_id) skips every
    already-committed epoch — crash anywhere, re-run, converge.
    ``transform`` runs per epoch on that epoch's seq range.

    ``mode='mor'`` appends delta files per epoch (write cost O(batch), the
    10^10-event replay shape) and compacts every ``compact_every`` epochs
    and/or once at the end (``final_compact``) so reads stay bounded.
    """
    bounds = binlog.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    if bounds["hi"] is None:
        return ReplayStats()
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    start_epoch = 0
    refence_epoch = None
    if resume:
        fence = table.last_committed_epoch(checkpoint_id)
        start_epoch = fence + 1
        bm = seq_bookmark(table, stream)
        if fence >= 0 and bm is not None:
            fence_end = lo - 1 + (fence + 1) * batch_events
            if int(bm) < fence_end and hi > int(bm):
                # the fenced tail epoch committed PARTIAL (stream ended
                # mid-range — the live-binlog tail case) and the stream has
                # since grown INTO that range: re-run the tail epoch. Safe
                # because the merge is LWW-idempotent (replayed rows tie in
                # favor of the target; only the genuinely new seqs apply).
                # A re-run over the unchanged artifact still fences to
                # zero epochs (hi == bookmark).
                start_epoch = fence
                refence_epoch = fence

    def epochs():
        epoch = start_epoch
        while (from_seq := lo - 1 + epoch * batch_events) < hi:
            to_seq = from_seq + batch_events
            yield epoch, {
                "source": binlog.filter((F.col("seq") > from_seq) & (F.col("seq") <= to_seq)),
                "refence": epoch == refence_epoch,
                "from_seq": from_seq,
                "to_seq": to_seq,
            }
            epoch += 1

    return _replay_epochs(
        table, stream, checkpoint_id, epochs(), max_batches, mode, compact_every,
        compact_rotate, final_compact, on_batch, transform=transform, **merge_kwargs,
    )


def _archive_files(archive_dir: str, epoch: int, files: list[str]) -> list[str]:
    """Copy an epoch's raw files under ``<archive_dir>/epoch=<n>/``
    (hardlink when possible). Runs BEFORE the merge commit: a crash after
    the commit still leaves the pointer valid (at-least-once for the copy,
    exactly-once for the commit — re-archiving is idempotent)."""
    adir = os.path.join(archive_dir, f"epoch={epoch}")
    os.makedirs(adir, exist_ok=True)
    archived = []
    for f in files:
        dst = os.path.join(adir, os.path.basename(f))
        if not os.path.exists(dst):
            try:
                os.link(f, dst)
            except OSError:
                shutil.copy2(f, dst)
        archived.append(dst)
    return archived


def replay_files(
    spark: SparkSession,
    table: LakeTable,
    src_dir: str,
    files_per_batch: int = 8,
    stream: str = "repos",
    checkpoint_id: str = "files",
    input_format: str = "parquet",
    record_schema=None,
    mode: str = "mor",
    compact_every: int | None = None,
    final_compact: bool = True,
    compact_rotate: int | None = None,
    resume: bool = True,
    max_batches: int | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    archive_dir: str | None = None,
    **merge_kwargs: Any,
) -> ReplayStats:
    """Replay a staged binlog directory in FILE-granular micro-batches: one
    epoch reads only its own k files — zero re-scans of the full log (the
    ``maxFilesPerTrigger`` shape, without Structured Streaming's driver).

    ``archive_dir`` retains each epoch's consumed raw files under
    ``<archive_dir>/epoch=<n>/`` BEFORE the merge commits, and records the
    archive paths in the epoch's lineage record — the ``archive_load_files``
    retention contract (targets/PipelinewiseSnowflake.java:368-376): every
    commit points at a replayable copy of exactly the raw input it consumed.

    ``input_format='jsonl'`` replays the raw Singer JSONL artifact: each
    epoch parses the envelope (one ``json_tuple`` per line) and casts RECORD
    payloads via ``from_json`` to ``record_schema`` — the faithful
    tap→target pipeline (tap stdout → typed rows → MERGE), fully
    vectorized/codegen'd. Part files are seq-ordered by construction
    (datagen.write_singer_jsonl) but correctness does not depend on it: the
    merge is sequence-conditional. ACTIVATE_VERSION resync fences apply in
    the epoch that carries them.

    Epoch fencing + bookmarks commit atomically with each merge, exactly as
    in :func:`replay_chunked`; the epoch number is the file-chunk index, so
    resume re-derives the same chunking from the sorted file list.

    Growth contract: files that arrive AFTER a fenced run must sort
    lexicographically after every already-consumed file (true for
    monotonic binlog file naming — mysql binlog.NNNNNN, WAL segments, and
    datagen's part-NNNNN), otherwise the re-derived chunk boundaries shift
    under the fence. For seq-carrying streams without that naming, use
    :func:`replay_chunked` (seq-range epochs + grow-into-tail re-run).
    """
    from plugin_singer_spark.lake.evolution import evolve_schema

    files = sorted(glob.glob(os.path.join(src_dir, "part-*")))
    if not files:
        return ReplayStats()
    chunks = [files[i : i + files_per_batch] for i in range(0, len(files), files_per_batch)]
    start_epoch = (table.last_committed_epoch(checkpoint_id) + 1) if resume else 0

    # live schema registry (record_schema=None): folds in-band SCHEMA
    # messages across epochs — a mid-stream SCHEMA with a new column evolves
    # the parse struct for ITS OWN batch onward (SURVEY §1.3: the diff must
    # apply before the cast of the batch that carried the new SCHEMA), and
    # the merge's evolve=True widens the table schema on commit. On resume
    # the SCHEMA messages of committed epochs are never re-read, so the
    # registry seeds from the table's committed schema (which those epochs
    # evolved) plus the CDC op envelope field.
    live_schema = None
    if record_schema is None and input_format != "parquet" and start_epoch > 0:
        from pyspark.sql import types as _T

        from plugin_singer_spark.lake.table import DELETED_AT, SEQ_FIELD

        data_fields = [
            f for f in table.snapshot().schema.fields if f.name not in (SEQ_FIELD, DELETED_AT)
        ]
        live_schema = _T.StructType(data_fields + [_T.StructField("op", _T.StringType())])

    def parse_lean(lines: DataFrame) -> DataFrame:
        return messages.parse_records_lean(lines, stream, record_schema, line_col="value")

    def parse_registry(lines: DataFrame) -> DataFrame:
        nonlocal live_schema
        env = messages.parse_lines(lines, line_col="value", seq_from_envelope=True)
        for _seq, s_name, struct, _keys in messages.collect_schemas(env):
            if s_name == stream:
                live_schema = struct if live_schema is None else evolve_schema(live_schema, struct)
        if live_schema is None:
            raise ValueError(
                f"stream {stream!r}: RECORD before any SCHEMA message and no record_schema given"
            )
        return messages.records_for_stream(env, stream, live_schema, keep_envelope=("seq",))

    def epochs():
        for epoch in range(start_epoch, len(chunks)):
            chunk = chunks[epoch]
            step: dict[str, Any] = {}
            if input_format == "parquet":
                step["source"] = spark.read.parquet(*chunk)
            else:
                step["source"] = spark.read.text(chunk)
                step["parse"] = parse_lean if record_schema is not None else parse_registry
            if archive_dir is not None:
                step["archive"] = lambda: _archive_files(archive_dir, epoch, chunk)
            yield epoch, step

    return _replay_epochs(
        table, stream, checkpoint_id, epochs(), max_batches, mode, compact_every,
        compact_rotate, final_compact, transform=transform, **merge_kwargs,
    )


def _start(
    src: DataFrame,
    handle: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool,
    processing_time: str | None,
):
    """Start a foreachBatch query. ``processing_time`` is a time-based
    flush — the ``batch_wait_limit_seconds`` analog
    (targets/PipelinewiseSnowflake.java:300-304): commit an epoch every
    interval instead of running the source dry in one availableNow pass."""
    writer = src.writeStream.foreachBatch(handle).option("checkpointLocation", checkpoint_dir)
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    elif available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_multi(
    spark: SparkSession,
    tables: dict[str, LakeTable],
    schemas: dict[str, Any],
    binlog_dir: str,
    checkpoint_dir: str,
    checkpoint_id: str = "multi",
    max_files_per_trigger: int = 4,
    available_now: bool = True,
    processing_time: str | None = None,
    transforms: dict[str, Callable[[DataFrame], DataFrame]] | None = None,
    **merge_kwargs: Any,
):
    """Continuous multi-stream demux: ONE Structured Streaming query over a
    raw Singer JSONL artifact fans each micro-batch out to every stream's
    lake table — the streaming form of the catalog job (the reference's
    tap continuously feeding a multi-stream target,
    targets/AbstractPythonTarget.java:72-90 demux loop).

    ``tables``/``schemas``/``transforms`` are keyed by stream name. Each
    table fences independently on ``(checkpoint_id, epoch)`` so a replayed
    micro-batch skips exactly the tables that already committed it —
    per-stream exactly-once even when a crash lands between two streams'
    merges of the same epoch. Returns the StreamingQuery."""
    src = (
        spark.readStream.option("maxFilesPerTrigger", str(max_files_per_trigger))
        .text(binlog_dir)
    )
    transforms = transforms or {}

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        for stream, table in tables.items():
            def parse(lines: DataFrame, stream=stream) -> DataFrame:
                env = messages.parse_lines(lines, line_col="value", seq_from_envelope=True)
                return messages.records_for_stream(env, stream, schemas[stream], keep_envelope=("seq",))

            _epoch_step(
                table, stream, int(epoch_id), checkpoint_id, batch_df, parse=parse,
                transform=transforms.get(stream), **merge_kwargs,
            )

    return _start(src, handle, checkpoint_dir, available_now, processing_time)


def stream_binlog(
    spark: SparkSession,
    table: LakeTable,
    binlog_dir: str,
    checkpoint_dir: str,
    stream: str = "repos",
    checkpoint_id: str = "stream",
    max_files_per_trigger: int = 4,
    available_now: bool = True,
    processing_time: str | None = None,
    input_format: str = "parquet",
    record_schema=None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    **merge_kwargs: Any,
):
    """Structured Streaming driver: file source over the binlog (parquet, or
    ``input_format='jsonl'`` for the raw Singer artifact parsed per batch
    with ``record_schema``) → foreachBatch(epoch-fenced MERGE). Returns the
    StreamingQuery.

    The sink is idempotent under Spark's at-least-once foreachBatch contract
    because the merge is fenced on (checkpoint_id, epoch_id) inside the
    atomic snapshot commit — the exactly-once upgrade of the reference's
    save-state-after-success (taps/AbstractPythonTap.java:104-106).
    """
    if input_format == "jsonl":
        if record_schema is None:
            raise ValueError("input_format='jsonl' requires record_schema")
        src = (
            spark.readStream.option("maxFilesPerTrigger", str(max_files_per_trigger))
            .text(binlog_dir)
        )
    else:
        sample = spark.read.parquet(binlog_dir)
        src = (
            spark.readStream.schema(sample.schema)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(binlog_dir)
        )

    def parse(lines: DataFrame) -> DataFrame:
        return messages.parse_records_lean(lines, stream, record_schema, line_col="value")

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        # no seq-bookmark filter: the file source's micro-batches are not
        # globally seq-ordered (a later batch can carry lower seqs), and
        # Spark's checkpoint already delivers each file exactly once. LWW
        # merge makes any cross-batch ordering converge; the epoch fence
        # alone guards replays.
        _epoch_step(
            table, stream, int(epoch_id), checkpoint_id, batch_df,
            parse=parse if input_format == "jsonl" else None, transform=transform, **merge_kwargs,
        )

    return _start(src, handle, checkpoint_dir, available_now, processing_time)
