"""Ingest pipelines: incremental rerun contract, full-table modes, CDC
replay parity + epoch-fenced resume, Structured Streaming driver.

Reference contracts: first sync 8 records → rerun with saved state 1 record
(inclusive edge, PipelinewiseMysqlTest.java:59-66); exclusive → 0
(BigQueryTest.java:72-76)."""

import pytest
from pyspark.sql import functions as F, types as T

from plugin_singer_spark.datagen import BinlogSpec, expected_final_state, generate_binlog
from plugin_singer_spark.ingest import replay_chunked, stream_binlog, sync_full_table, sync_incremental
from plugin_singer_spark.ingest.pipeline import replay_cdc, seq_bookmark
from plugin_singer_spark.lake import LakeTable

REPOS = T.StructType([T.StructField(c, T.StringType()) for c in ["repo", "path", "commit", "lang", "content"]])


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(spark, str(tmp_path / "t"), REPOS, ["repo", "path"], num_buckets=8)


def cat_table(spark, tmp_path):
    schema = T.StructType([
        T.StructField("categoryid", T.IntegerType()),
        T.StructField("categoryname", T.StringType()),
    ])
    return LakeTable.create(spark, str(tmp_path / "cat"), schema, ["categoryid"], num_buckets=2)


def test_incremental_rerun_contract(spark, tmp_path):
    t = cat_table(spark, tmp_path)
    recs = spark.createDataFrame([(i, i, f"cat-{i}") for i in range(8)], ["seq", "categoryid", "categoryname"])
    r1 = sync_incremental(t, recs, "categoryid", stream="category")
    assert r1.record_count == 8
    bm = t.bookmarks()["category"]["replication_key_value"]
    assert bm == 7
    # inclusive rerun: exactly the bookmark-edge row (8 -> 1, MysqlTest)
    r2 = sync_incremental(t, recs, "categoryid", stream="category", bookmark=bm, inclusive=True)
    assert r2.record_count == 1
    # exclusive rerun: zero (BigQueryTest)
    r3 = sync_incremental(t, recs, "categoryid", stream="category", bookmark=bm, inclusive=False)
    assert r3.record_count == 0


def test_full_table_truncate_vs_append(spark, tmp_path, table):
    df1 = spark.createDataFrame([(1, "r", "p", "c", "py", "v1"), (2, "r", "q", "c", "py", "w1")],
                                ["seq", "repo", "path", "commit", "lang", "content"])
    sync_full_table(table, df1, truncate=True)
    assert table.read().count() == 2
    df2 = spark.createDataFrame([(3, "r", "p", "c", "py", "OVERWRITTEN")],
                                ["seq", "repo", "path", "commit", "lang", "content"])
    sync_full_table(table, df2, truncate=True)
    rows = table.read().collect()
    assert len(rows) == 1 and rows[0]["content"] == "OVERWRITTEN"
    # append mode = insert-only merge
    sync_full_table(table, df1, truncate=False)
    got = {(r.repo, r.path): r.content for r in table.read().collect()}
    assert got == {("r", "p"): "OVERWRITTEN", ("r", "q"): "w1"}


def test_replay_parity_and_resume(spark, table):
    spec = BinlogSpec(num_events=4000, num_repos=10, paths_per_repo=30)
    binlog = generate_binlog(spark, spec)
    shaped = []  # one transform call per committed epoch; a fenced one runs none

    def transform(df):
        shaped.append(1)
        return df

    stats = replay_chunked(table, binlog, batch_events=1000, checkpoint_id="cp", transform=transform)
    assert stats.events == 4000 and stats.batches == 4 and len(shaped) == 4
    exp = expected_final_state(binlog).select("repo", "path", F.sha2("content", 256).alias("h"))
    got = table.read().select("repo", "path", F.sha2("content", 256).alias("h"))
    assert exp.exceptAll(got).count() == 0 and got.exceptAll(exp).count() == 0
    # idempotent rerun: all epochs fenced
    stats2 = replay_chunked(table, binlog, batch_events=1000, checkpoint_id="cp", transform=transform)
    assert stats2.events == 0 and len(shaped) == 4
    # mid-stream resume with extended log
    binlog2 = generate_binlog(spark, BinlogSpec(num_events=5000, num_repos=10, paths_per_repo=30))
    stats3 = replay_chunked(table, binlog2, batch_events=1000, checkpoint_id="cp", transform=transform)
    assert stats3.events == 1000 and len(shaped) == 5
    exp2 = expected_final_state(binlog2).select("repo", "path", F.sha2("content", 256).alias("h"))
    got2 = table.read().select("repo", "path", F.sha2("content", 256).alias("h"))
    assert exp2.exceptAll(got2).count() == 0 and got2.exceptAll(exp2).count() == 0
    assert seq_bookmark(table) == 4999


def test_replay_epoch_fence_direct(spark, table):
    binlog = generate_binlog(spark, BinlogSpec(num_events=100, num_repos=5, paths_per_repo=10))
    r1 = replay_cdc(table, binlog, epoch=0, checkpoint_id="x")
    assert r1.record_count == 100
    # same epoch replayed (e.g. task retry) -> skipped
    r2 = replay_cdc(table, binlog, epoch=0, checkpoint_id="x")
    assert r2.record_count == 0 and r2.metrics.get("skipped_epoch") == 0


def test_structured_streaming_driver(spark, tmp_path, table):
    binlog = generate_binlog(spark, BinlogSpec(num_events=2000, num_repos=8, paths_per_repo=20, num_partitions=4))
    src_dir = str(tmp_path / "binlog")
    binlog.write.parquet(src_dir)
    q = stream_binlog(spark, table, src_dir, str(tmp_path / "ckpt"), max_files_per_trigger=2)
    q.awaitTermination(120)
    exp = expected_final_state(binlog).select("repo", "path", F.sha2("content", 256).alias("h"))
    got = table.read().select("repo", "path", F.sha2("content", 256).alias("h"))
    assert exp.exceptAll(got).count() == 0 and got.exceptAll(exp).count() == 0


def test_multi_stream_chained_pipeline(spark, tmp_path):
    """Reference JsonTest analog (tap → target chained run,
    test/.../JsonTest.java:30-79): one raw Singer JSONL artifact carrying
    TWO streams (8 category + 4 region records) is demuxed, each stream
    MERGEd into its own lake table, and re-emitted through the per-stream
    JSONL parity sink — per-stream record counts match the reference's
    asserted metrics (8 and 4)."""
    import json as _json
    import os

    from plugin_singer_spark import messages
    from plugin_singer_spark.sinks import write_jsonl_streams

    lines = (
        [_json.dumps({"type": "SCHEMA", "stream": s, "schema": {"type": "object"}}) for s in ("category", "region")]
        + [
            _json.dumps({"type": "RECORD", "stream": "category", "seq": i,
                         "record": {"categoryid": i, "categoryname": f"cat-{i}"}})
            for i in range(8)
        ]
        + [
            _json.dumps({"type": "RECORD", "stream": "region", "seq": 100 + i,
                         "record": {"regionid": i, "regiondescription": f"r-{i}"}})
            for i in range(4)
        ]
        + [_json.dumps({"type": "STATE", "value": {"bookmarks": {"category": 7, "region": 103}}})]
    )
    raw = tmp_path / "raw.jsonl"
    raw.write_text("\n".join(lines) + "\n")

    env = messages.parse_lines(
        spark.read.text(str(raw)), line_col="value", seq_from_envelope=True
    )
    schemas = {
        "category": T.StructType([T.StructField("categoryid", T.IntegerType()),
                                  T.StructField("categoryname", T.StringType())]),
        "region": T.StructType([T.StructField("regionid", T.IntegerType()),
                                T.StructField("regiondescription", T.StringType())]),
    }
    keys = {"category": ["categoryid"], "region": ["regionid"]}
    outs = {}
    for stream, schema in schemas.items():
        recs = messages.records_for_stream(env, stream, schema, keep_envelope=("seq",))
        t = LakeTable.create(spark, str(tmp_path / stream), schema, keys[stream], num_buckets=2)
        replay_cdc(t, recs, stream=stream, op_col=None)
        outs[stream] = t.read()
    assert outs["category"].count() == 8
    assert outs["region"].count() == 4
    # per-stream parity sink: one <stream>.jsonl each (targets/Json.java:65-75)
    paths = write_jsonl_streams(outs, str(tmp_path / "sink"))
    assert sorted(os.path.basename(p) for p in paths.values()) == ["category.jsonl", "region.jsonl"]
    assert sum(1 for _ in open(paths["category"])) == 8


def test_schema_evolution_mid_stream_replay(spark, tmp_path):
    """A SCHEMA message mid-stream adds a column; the batch that carried it
    parses with the evolved struct (SURVEY §1.3) and the merge widens the
    table schema. Old rows read back with null backfill; resume after the
    evolution seeds the registry from the committed table schema."""
    import json as _json
    import os

    cat = {"type": "object", "properties": {
        "categoryid": {"type": "integer"}, "categoryname": {"type": ["null", "string"]}}}
    cat_v2 = {"type": "object", "properties": {
        "categoryid": {"type": "integer"}, "categoryname": {"type": ["null", "string"]},
        "stars": {"type": ["null", "integer"]}}}

    src = tmp_path / "evo"
    os.makedirs(src)
    # part-0: SCHEMA v1 + 3 records; part-1: SCHEMA v2 + 2 records with stars
    (src / "part-00000.jsonl").write_text("\n".join(
        [_json.dumps({"type": "SCHEMA", "stream": "category", "seq": 0, "schema": cat})]
        + [_json.dumps({"type": "RECORD", "stream": "category", "seq": i + 1,
                        "record": {"categoryid": i, "categoryname": f"c{i}"}}) for i in range(3)]
    ) + "\n")
    (src / "part-00001.jsonl").write_text("\n".join(
        [_json.dumps({"type": "SCHEMA", "stream": "category", "seq": 10, "schema": cat_v2})]
        + [_json.dumps({"type": "RECORD", "stream": "category", "seq": 11 + i,
                        "record": {"categoryid": 10 + i, "categoryname": f"n{i}", "stars": i}}) for i in range(2)]
    ) + "\n")

    schema = T.StructType([
        T.StructField("categoryid", T.IntegerType()),
        T.StructField("categoryname", T.StringType()),
    ])
    table = LakeTable.create(spark, str(tmp_path / "cat"), schema, ["categoryid"], num_buckets=2)

    from plugin_singer_spark.ingest.streaming import replay_files

    # first epoch only (pre-evolution), then resume for the evolving epoch
    s1 = replay_files(spark, table, str(src), files_per_batch=1, stream="category",
                      checkpoint_id="evo", input_format="jsonl", record_schema=None,
                      mode="cow", max_batches=1)
    assert s1.events == 3
    assert "stars" not in table.snapshot().schema.fieldNames()

    s2 = replay_files(spark, table, str(src), files_per_batch=1, stream="category",
                      checkpoint_id="evo", input_format="jsonl", record_schema=None, mode="cow")
    assert s2.events == 2
    final = table.read()
    assert "stars" in final.columns  # table schema widened
    rows = {r["categoryid"]: r["stars"] for r in final.collect()}
    assert rows[10] == 0 and rows[11] == 1
    assert all(rows[i] is None for i in range(3))  # null backfill on old rows


def test_streaming_processing_time_trigger(spark, tmp_path, table):
    """Time-based flush (batch_wait_limit_seconds analog,
    targets/PipelinewiseSnowflake.java:300-304): a processingTime trigger
    commits ≥2 fenced epochs, then the query is stopped externally."""
    import time

    binlog = generate_binlog(spark, BinlogSpec(num_events=2000, num_repos=8, paths_per_repo=20, num_partitions=4))
    src_dir = str(tmp_path / "binlog")
    binlog.write.parquet(src_dir)
    q = stream_binlog(
        spark, table, src_dir, str(tmp_path / "ckpt"),
        max_files_per_trigger=2, processing_time="500 milliseconds",
        checkpoint_id="ptime",
    )
    deadline = time.time() + 120
    while table.last_committed_epoch("ptime") < 1 and time.time() < deadline:
        time.sleep(0.5)
    q.stop()
    assert table.last_committed_epoch("ptime") >= 1  # ≥2 fenced epochs committed
    # 4 source files at maxFilesPerTrigger=2 ⇒ exactly 2 epochs, so a fence
    # of ≥1 means the whole binlog landed — full parity must hold
    exp = expected_final_state(binlog).select("repo", "path", F.sha2("content", 256).alias("h"))
    got = table.read().select("repo", "path", F.sha2("content", 256).alias("h"))
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_streaming_jsonl_source_and_restart_resume(spark, tmp_path, table):
    """Structured Streaming over the RAW Singer JSONL artifact: stop the
    query mid-stream, restart on the same checkpoint — Spark's offsets plus
    the table's epoch fence must converge to exact parity (no duplicates,
    no gaps), the tap→target contract under crash/restart."""
    from plugin_singer_spark.datagen import BinlogSpec
    from plugin_singer_spark.datagen.binlog import write_singer_jsonl

    spec = BinlogSpec(num_events=4000, num_repos=8, paths_per_repo=30, num_partitions=4)
    src_dir = str(tmp_path / "jsonl")
    write_singer_jsonl(spark, spec, src_dir)
    record_schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in ["repo", "path", "commit", "lang", "content", "op"]]
    )
    ckpt = str(tmp_path / "ckpt")

    # phase 1: process at most ~half the files, then stop mid-stream
    import time

    q = stream_binlog(
        spark, table, src_dir, ckpt, max_files_per_trigger=1,
        input_format="jsonl", record_schema=record_schema,
        checkpoint_id="sjr", available_now=False, processing_time="200 milliseconds",
    )
    deadline = time.time() + 120
    while table.last_committed_epoch("sjr") < 1 and time.time() < deadline:
        time.sleep(0.2)
    q.stop()
    partial_fence = table.last_committed_epoch("sjr")
    assert partial_fence >= 1

    # phase 2: restart on the same checkpoint, drain to the end
    q2 = stream_binlog(
        spark, table, src_dir, ckpt, max_files_per_trigger=1,
        input_format="jsonl", record_schema=record_schema,
        checkpoint_id="sjr", available_now=True,
    )
    q2.awaitTermination(180)
    assert table.last_committed_epoch("sjr") > partial_fence or partial_fence == 3

    binlog = generate_binlog(spark, spec)
    exp = expected_final_state(binlog).select("repo", "path", F.sha2("content", 256).alias("h"))
    got = table.read().select("repo", "path", F.sha2("content", 256).alias("h"))
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_stream_multi_catalog_demux(spark, tmp_path):
    """One streaming query demuxes a multi-stream Singer JSONL artifact into
    per-stream lake tables with independent epoch fences; a second
    availableNow pass on the same checkpoint is a no-op."""
    import json as _json

    from plugin_singer_spark.ingest.streaming import stream_multi

    files = []
    for f in range(4):
        lines = [
            _json.dumps({"type": "RECORD", "stream": "category", "seq": f * 10 + i,
                         "record": {"categoryid": f * 10 + i, "categoryname": f"c{f}-{i}"}})
            for i in range(2)
        ] + [
            _json.dumps({"type": "RECORD", "stream": "region", "seq": 1000 + f,
                         "record": {"regionid": f, "regiondescription": f"r{f}"}})
        ]
        p = tmp_path / "src" / f"part-{f:03d}.jsonl"
        p.parent.mkdir(exist_ok=True)
        p.write_text("\n".join(lines) + "\n")
        files.append(p)

    schemas = {
        "category": T.StructType([T.StructField("categoryid", T.IntegerType()),
                                  T.StructField("categoryname", T.StringType())]),
        "region": T.StructType([T.StructField("regionid", T.IntegerType()),
                                T.StructField("regiondescription", T.StringType())]),
    }
    tables = {
        "category": LakeTable.create(spark, str(tmp_path / "cat"), schemas["category"], ["categoryid"], num_buckets=2),
        "region": LakeTable.create(spark, str(tmp_path / "reg"), schemas["region"], ["regionid"], num_buckets=2),
    }
    q = stream_multi(
        spark, tables, schemas, str(tmp_path / "src"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, op_col=None,
    )
    q.awaitTermination(120)
    assert tables["category"].read().count() == 8
    assert tables["region"].read().count() == 4
    v = {s: t.current_version() for s, t in tables.items()}
    # replay the same checkpoint: all epochs fenced per table, no new commits
    q2 = stream_multi(
        spark, tables, schemas, str(tmp_path / "src"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, op_col=None,
    )
    q2.awaitTermination(120)
    assert {s: t.current_version() for s, t in tables.items()} == v
