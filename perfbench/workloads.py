"""The benchmark's workloads. Each one:

- ``setup()``: the table/index prefill, repeated ``PREFILLS`` times into
  fresh tables (each prefill's time is a ``prefill_s`` sample; ``setup_s``
  takes their median); the repeats also warm the JVM, and the timed rounds
  continue on the last one;
- ``round(i)``: one closed-loop round of timed operations, recording samples
  in the :class:`Recorder`; the run calls rounds until its time is spent.
  Every round does the same work, so the end-to-end metrics are medians
  over rounds or ops and do not depend on how many rounds fit;
- ``finish()``: end-of-run output checks (never inside a timed window);
- ``end_to_end()``: the contract metrics (``rows_per_s``, ``write_s_p50``,
  ``read_s_p50``, ``cpu_ms_per_row``) plus the workload's own named figures.

Layer functions are always called through their module or class attribute
so that the traced run's wrappers (spans.patched) see every call.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from collections import defaultdict

from pyspark.sql import functions as F, types as T

import inputs
from plugin_singer_spark import messages
from plugin_singer_spark.datagen import binlog as datagen
from plugin_singer_spark.ingest import streaming
from plugin_singer_spark.lake import merge
from plugin_singer_spark.lake.table import LakeTable
from plugin_singer_spark.operators import dedup
from plugin_singer_spark.operators.incremental_dedup import MinHashIndex
from plugin_singer_spark.operators.stagecache import release_stage_caches

REPO_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in ("repo", "path", "commit", "lang", "content")]
)
RECORD_SCHEMA = T.StructType(list(REPO_SCHEMA.fields) + [T.StructField("op", T.StringType())])
DOC_SCHEMA = T.StructType(  # the oracle's corpus
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)
MINHASH = dict(n=3, num_hashes=16, bands=8)
NEARDUP_THRESHOLD = 0.8


class Recorder:
    """Samples of one run, plus the attempted/failed op count behind
    ``failed_ops_frac`` (a failed output check counts as a failed op)."""

    def __init__(self, jvm_pid: int | None = None):
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.prefill_s: list[float] = []  # set-up samples, kept through warm-ups
        self.attempted = 0
        self.failed = 0
        self.jvm_pid = jvm_pid

    def cpu_s(self) -> float:
        """User + system CPU seconds of this process and the driver JVM
        (steal time is not in them: a co-tenant burst slows the wall clock,
        not this count)."""
        t = os.times()
        own = t.user + t.system
        if self.jvm_pid is None:
            return own
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return own + (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def add(self, name: str, value: float) -> None:
        self.samples[name].append(value)

    def add_prefill(self, seconds: float) -> None:
        self.prefill_s.append(seconds)

    def op(self, ok: bool = True, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", flush=True)

    def crashed(self, what: str) -> None:
        self.op(False, f"{what} raised:\n{traceback.format_exc()}")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def noop_write(df) -> None:
    """Materialize every output column (unlike ``count()``, which Catalyst
    may prune down to a row count)."""
    df.write.format("noop").mode("overwrite").save()


def digest(df, key_cols: list[str], value_col: str):
    """(row count, order-insensitive sha256 over key + value) in one job."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in key_cols + [value_col]]
    h = F.sha2(F.concat_ws("\x1f", *cols), 256)
    r = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sha2(F.concat_ws("\n", F.array_sort(F.collect_list("h"))), 256).alias("d"),
    ).collect()[0]
    return int(r["n"]), r["d"]


def table_bytes(table: LakeTable) -> int:
    snap = table.snapshot()
    return sum(os.path.getsize(table._abs(p))
               for m in (snap.files, snap.delta_files) for fs in m.values() for p in fs)


class Workload:
    name = ""
    ROWS = "events"  # the sample holding the rows each round ingests

    def __init__(self, spark, tracer, rec: Recorder, inputs_dir: str, size, scratch: str):
        self.spark, self.tracer, self.rec = spark, tracer, rec
        self.inputs_dir, self.size, self.scratch = inputs_dir, size, scratch

    def fresh_dir(self, tag: str) -> str:
        d = os.path.join(self.scratch, tag)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def timed(self, sample: str, fn):
        """Run ``fn`` as one timed op: wall seconds under ``sample``, CPU
        seconds under ``sample + '_cpu'``."""
        with self.tracer.span(f"perfbench.{sample}"):
            c0, t0 = self.rec.cpu_s(), time.perf_counter()
            out = fn()
            dt, dc = time.perf_counter() - t0, self.rec.cpu_s() - c0
        self.rec.add(sample, dt)
        self.rec.add(sample + "_cpu", dc)
        return out

    def has_round(self, i: int) -> bool:
        return True

    def finish(self) -> None:
        pass


# ------------------------------------------------------------------ cdc_replay


class CdcReplay(Workload):
    """Bulk write: raw Singer JSONL, one file per epoch, replayed through
    ``replay_files`` (lean parse, MOR ``merge_append``) into one table.
    A round is ``EPOCHS_PER_ROUND`` epochs, ``SCANS`` full resolved scans
    while those epochs' deltas are outstanding, then the round's compaction;
    so every round holds the same work, and the table's size stays nearly
    level (the prefill already covers most of the key space).

    A prefill replays ``PREFILL_EPOCHS`` epochs into a fresh table, scans
    it once and compacts it; the timed rounds continue on the last one."""

    name = "cdc_replay"
    BUCKETS = 8
    PREFILLS = 3
    PREFILL_EPOCHS = 2
    EPOCHS_PER_ROUND = 2
    SCANS = 2

    def __init__(self, *a):
        super().__init__(*a)
        self.jsonl = os.path.join(self.inputs_dir, "jsonl")
        self.table = None

    def _replay(self, epochs: int):
        return streaming.replay_files(
            self.spark, self.table, self.jsonl, files_per_batch=1, checkpoint_id="bench",
            input_format="jsonl", record_schema=RECORD_SCHEMA, mode="mor", final_compact=False,
            dedup=False, max_batches=epochs,
        )

    def setup(self) -> None:
        for k in range(self.PREFILLS):
            t0 = time.perf_counter()
            self.table = LakeTable.create(self.spark, self.fresh_dir(f"replay{k}"), REPO_SCHEMA,
                                          ["repo", "path"], num_buckets=self.BUCKETS)
            self._replay(self.PREFILL_EPOCHS)
            noop_write(self.table.read())
            merge.compact(self.table, min_delta_files=1)
            self.rec.add_prefill(time.perf_counter() - t0)
            if k + 1 < self.PREFILLS:
                shutil.rmtree(self.table.root, ignore_errors=True)

    def has_round(self, i: int) -> bool:
        done = self.PREFILL_EPOCHS + i * self.EPOCHS_PER_ROUND
        return done + self.EPOCHS_PER_ROUND <= self.size.files

    def round(self, i: int) -> None:
        table = self.table
        with self.tracer.span("perfbench.replay") as counts:
            c0, t0 = self.rec.cpu_s(), time.perf_counter()
            stats = self._replay(self.EPOCHS_PER_ROUND)
            wall = time.perf_counter() - t0
            cpu = self.rec.cpu_s() - c0
            counts["driver_gap_s"] = wall - sum(stats.epoch_secs)
        whole = stats.events == self.EPOCHS_PER_ROUND * self.size.events_per_file
        for s in stats.epoch_secs:
            self.rec.add("epoch_s", s)
            self.rec.op(whole, f"replay round {i}: {stats.events} events")
        self.rec.add("events", stats.events)
        for _ in range(self.SCANS):
            self.timed("scan_s", lambda: noop_write(table.read()))
            self.rec.op()
        with self.tracer.span("perfbench.compact"):
            c0, t0 = self.rec.cpu_s(), time.perf_counter()
            merge.compact(table, min_delta_files=1)
            compact_s = time.perf_counter() - t0
            cpu += self.rec.cpu_s() - c0
        self.rec.op()
        self.rec.add("compact_s", compact_s)
        self.rec.add("replay_wall_s", wall + compact_s)
        self.rec.add("round_rows_per_s", stats.events / (sum(stats.epoch_secs) + compact_s))
        self.rec.add("round_cpu_ms_per_row", 1000 * cpu / stats.events)
        if self.tracer.enabled:
            self._parse_probe(self.table.last_committed_epoch("bench"))

    def _parse_probe(self, last_epoch: int) -> None:
        """Parse-only pass over the round's files, noop sink (traced run)."""
        files = sorted(f for f in os.listdir(self.jsonl) if f.startswith("part-"))
        for e in range(last_epoch - self.EPOCHS_PER_ROUND + 1, last_epoch + 1):
            with self.tracer.span("probe.parse"):
                lines = self.spark.read.text(os.path.join(self.jsonl, files[e]))
                noop_write(messages.parse_records_lean(lines, "repos", RECORD_SCHEMA))

    def finish(self) -> None:
        """The table vs datagen.expected_final_state of the events replayed
        so far (files 0..last epoch hold seq 1..(last epoch + 1) × file
        size)."""
        last_seq = (self.table.last_committed_epoch("bench") + 1) * self.size.events_per_file
        binlog = self.spark.read.parquet(os.path.join(self.inputs_dir, "binlog.parquet"))
        want = digest(datagen.expected_final_state(binlog.filter(F.col("seq") <= last_seq)),
                      ["repo", "path"], "content")
        got = digest(self.table.read(), ["repo", "path"], "content")
        self.rec.op(got == want, f"cdc_replay final state {got} != oracle {want}")
        n = self.table.row_count()
        if n:
            self.rec.add("table_bytes_per_row", table_bytes(self.table) / n)

    def end_to_end(self) -> tuple[dict, list]:
        s = self.rec.samples
        m = {
            "rows_per_s": median(s["round_rows_per_s"]),
            "write_s_p50": median(s["epoch_s"]),
            "read_s_p50": median(s["scan_s"]),
            "cpu_ms_per_row": median(s["round_cpu_ms_per_row"]),
        }
        named = [
            ("cdc_replay_events_per_sec_sustained_amortized", m["rows_per_s"], "events/s"),
            ("replay_wall_s_per_round", median(s["replay_wall_s"]), "s"),
            ("epoch_commit_s_p50", m["write_s_p50"], "s"),
            ("compact_s_p50", median(s["compact_s"]), "s"),
            ("scan_s_p50", m["read_s_p50"], "s"),
            ("table_bytes_per_row", median(s["table_bytes_per_row"]), "bytes"),
            ("epochs", len(s["epoch_s"]), "count"),
            ("scans", len(s["scan_s"]), "count"),
        ]
        return m, named


# --------------------------------------------------------------- neardup_index


class NeardupIndex(Workload):
    """CDC-maintained near-dup index: each batch folds its changed docs into
    a MinHashIndex (MOR update), then materializes the verified near-dup
    pairs of the batch's live docs against the live corpus."""

    name = "neardup_index"
    ROWS = "docs"
    INDEX_BUCKETS = 4
    PREFILLS = 3

    def __init__(self, *a):
        super().__init__(*a)
        self.index = None
        self.last = None  # (batch number, verified pairs) of the latest batch

    def _path(self, b: int | None) -> str:
        name = "corpus.parquet" if b is None else f"batches/batch-{b:05d}.parquet"
        return os.path.join(self.inputs_dir, name)

    def _corpus(self, b: int):
        """Live documents after batch ``b``: the engine's LWW primitive over
        the corpus and every batch so far (what a documents table holds)."""
        docs = self.spark.read.parquet(self._path(None), *[self._path(k) for k in range(b + 1)])
        live = merge.lww_dedup(docs, ["doc_id"], "seq").filter(F.col("op") != "D")
        return live.select("doc_id", "text")

    def setup(self) -> None:
        for k in range(self.PREFILLS):
            # the index build: the same MOR update the rounds run, over the corpus
            t0 = time.perf_counter()
            self.index = MinHashIndex(self.spark, self.fresh_dir(f"index{k}"),
                                      num_buckets=self.INDEX_BUCKETS, **MINHASH)
            self.index.update(self.spark.read.parquet(self._path(None)), seq_col="seq", op_col="op")
            self.rec.add_prefill(time.perf_counter() - t0)
            if k + 1 < self.PREFILLS:
                shutil.rmtree(self.index.table.root, ignore_errors=True)
        # the prefills warmed the update; one untimed pairs pass (batch 0's
        # docs against the corpus, before that batch) warms the read side
        docs = self.spark.read.parquet(self._path(0)).filter(F.col("op") != "D")
        corpus = self.spark.read.parquet(self._path(None))
        self.index.neardup_pairs(docs.select("doc_id", "text"), corpus.select("doc_id", "text"),
                                 threshold=NEARDUP_THRESHOLD).collect()
        release_stage_caches()

    def has_round(self, i: int) -> bool:
        return i < self.size.batches

    def round(self, i: int) -> None:
        batch = self.spark.read.parquet(self._path(i))
        self.timed("update_s", lambda: self.index.update(batch, seq_col="seq", op_col="op"))
        self.rec.op()
        live = batch.filter(F.col("op") != "D").select("doc_id", "text")
        corpus = self._corpus(i)
        pairs = self.timed("pairs_s", lambda: self.index.neardup_pairs(
            live, corpus, threshold=NEARDUP_THRESHOLD).collect())
        release_stage_caches()
        self.rec.op()
        self.rec.add("batch_s", self.rec.samples["update_s"][-1] + self.rec.samples["pairs_s"][-1])
        self.rec.add("docs", self.size.batch_docs)
        self.last = (i, pairs)
        if self.tracer.enabled:
            self._probes(batch, live, corpus)

    def _probes(self, batch, live, corpus) -> None:
        """Per-layer split of one batch (traced run only): banding of the
        batch alone, then candidates and verify each materialized."""
        with self.tracer.span("probe.banded_buckets"):
            noop_write(dedup.banded_buckets(live, "doc_id", "text", **MINHASH))
        with self.tracer.span("probe.candidates") as counts:
            cand = self.index.candidates(live, "doc_id", "text").localCheckpoint(eager=True)
            counts["pairs"] = cand.count()
        with self.tracer.span("probe.verify") as counts:
            sh = dedup.shingle_table(corpus, "doc_id", "text", MINHASH["n"])
            counts["pairs"] = len(dedup.jaccard_verify(cand, sh, NEARDUP_THRESHOLD).collect())
        release_stage_caches()

    def finish(self) -> None:
        """The latest batch's verified pairs vs the batch operator over the
        live corpus (oracle corpus rebuilt in Python from the inputs)."""
        if self.last is None:
            return
        b, pairs = self.last
        live = inputs.live_corpus(self.inputs_dir, b)
        corpus = self.spark.createDataFrame(sorted(live.items()), DOC_SCHEMA)
        batch = self.spark.read.parquet(self._path(b)).collect()
        batch_ids = {r["doc_id"] for r in batch if r["op"] != "D"}
        ref = dedup.minhash_lsh_pairs(corpus, "doc_id", "text", threshold=NEARDUP_THRESHOLD,
                                      **MINHASH)
        want = {(r["id_a"], r["id_b"], r["jaccard"]) for r in ref.collect()
                if r["id_a"] in batch_ids or r["id_b"] in batch_ids}
        release_stage_caches()
        got = {(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs}
        self.rec.op(got == want,
                    f"neardup batch {b}: {len(got - want)} extra, {len(want - got)} missing pairs")

    def end_to_end(self) -> tuple[dict, list]:
        s = self.rec.samples
        cpu = [a + b for a, b in zip(s["update_s_cpu"], s["pairs_s_cpu"])]
        m = {
            "rows_per_s": self.size.batch_docs / median(s["batch_s"]),
            "write_s_p50": median(s["update_s"]),
            "read_s_p50": median(s["pairs_s"]),
            "cpu_ms_per_row": 1000 * median(cpu) / self.size.batch_docs,
        }
        named = [
            ("neardup_batch_s_p50", median(s["batch_s"]), "s"),
            ("index_update_s_p50", m["write_s_p50"], "s"),
            ("neardup_pairs_s_p50", m["read_s_p50"], "s"),
            ("batches", len(s["batch_s"]), "count"),
        ]
        return m, named


WORKLOADS = {w.name: w for w in (CdcReplay, NeardupIndex)}
