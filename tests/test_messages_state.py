"""Message parse/demux + state fold semantics.

Contracts from the reference tests: message-type counts (1 SCHEMA, 8 RECORD,
2 STATE — PipelinewisePostgresTest.java:37-47), per-stream record counts
(8 category + 4 region — JsonTest.java:61-62), cumulative putAll state fold
(AbstractPythonSinger.java:249-251), METRIC line parsing with name/tag
mangling (AbstractPythonSinger.java:216-236, 322-356)."""

import json

import pytest
from pyspark.sql import types as T

from plugin_singer_spark import messages
from plugin_singer_spark.ingest.metrics import parse_metric_line
from plugin_singer_spark.state import StateStore, fold_states, get_bookmark, merge_state


@pytest.fixture(scope="module")
def env(spark):
    lines = []
    lines.append(json.dumps({"type": "SCHEMA", "stream": "category",
        "schema": {"type": "object", "properties": {"categoryid": {"type": "integer", "minimum": 0, "maximum": 1000}, "categoryname": {"type": ["null", "string"]}}},
        "key_properties": ["categoryid"]}))
    for i in range(8):
        lines.append(json.dumps({"type": "RECORD", "stream": "category",
            "record": {"categoryid": i, "categoryname": f"cat-{i}"},
            "time_extracted": "2024-01-01T00:00:00Z"}))
    for i in range(4):
        lines.append(json.dumps({"type": "RECORD", "stream": "region",
            "record": {"regionid": i, "regiondescription": f"reg-{i}"}}))
    lines.append(json.dumps({"type": "STATE", "value": {"bookmarks": {"category": {"replication_key_value": 7}}}}))
    lines.append(json.dumps({"type": "STATE", "value": {"bookmarks": {"region": {"replication_key_value": 3}}}}))
    lines.append('{"type": "ACTIVATE_VERSION", "stream": "category", "version": 1}')
    df = spark.createDataFrame([(i, x) for i, x in enumerate(lines)], ["seq", "line"])
    return messages.parse_lines(df, seq_col="seq")


def test_type_counts(env):
    counts = {r["type"]: r["n"] for r in messages.message_type_counts(env).collect()}
    assert counts == {"SCHEMA": 1, "RECORD": 12, "STATE": 2, "ACTIVATE_VERSION": 1}


def test_stream_record_counts(env):
    counts = {r["stream"]: r["record_count"] for r in messages.stream_record_counts(env).collect()}
    assert counts == {"category": 8, "region": 4}


def test_records_typed(env):
    struct = T.StructType([
        T.StructField("categoryid", T.IntegerType()),
        T.StructField("categoryname", T.StringType()),
    ])
    recs = messages.records_for_stream(env, "category", struct).collect()
    assert len(recs) == 8
    assert {r.categoryid for r in recs} == set(range(8))


def test_collect_schemas(env):
    schemas = messages.collect_schemas(env)
    assert len(schemas) == 1
    seq, stream, struct, keys = schemas[0]
    assert stream == "category" and keys == ["categoryid"]
    assert isinstance(struct.fields[0].dataType, T.IntegerType)


def test_state_fold(env):
    states = messages.collect_states(env)
    final = fold_states(states)
    assert get_bookmark(final, "category", "replication_key_value") == 7
    assert get_bookmark(final, "region", "replication_key_value") == 3


def test_merge_state_putall_lww():
    acc = {}
    merge_state(acc, {"a": 1, "bookmarks": {"s1": {"v": 1}}})
    merge_state(acc, {"a": 2, "bookmarks": {"s2": {"v": 9}}})
    assert acc["a"] == 2
    assert acc["bookmarks"] == {"s1": {"v": 1}, "s2": {"v": 9}}


def test_state_store_roundtrip(tmp_path):
    store = StateStore(str(tmp_path))
    assert store.load() == {}  # missing => {} (AbstractPythonTap.java:77-79)
    store.save({"bookmarks": {"s": {"v": 5}}})
    assert store.load()["bookmarks"]["s"]["v"] == 5
    store.save({})  # empty never persisted
    assert store.load()["bookmarks"]["s"]["v"] == 5


def test_metric_parse():
    m = parse_metric_line('METRIC: {"type": "counter", "metric": "record_count", "value": 8, "tags": {"Stream_Name": "Category"}}')
    assert m.qualified_name == "singer.record.count"
    assert m.mangled_tags() == {"Stream.Name": "category"}
    assert parse_metric_line("INFO something else") is None


def test_validate_records(spark):
    df = spark.createDataFrame([(1, "a"), (None, "b")], ["id", "v"])
    valid, invalid = messages.validate_records(df, ["id"])
    assert valid.count() == 1 and invalid.count() == 1


def test_parse_records_lean_equivalence(spark, tmp_path):
    """Lean 4-field parse produces exactly the rows of the full
    parse_lines + records_for_stream path (messages.parse_records_lean)."""
    from pyspark.sql import functions as F, types as T

    from plugin_singer_spark import messages
    from plugin_singer_spark.datagen import BinlogSpec
    from plugin_singer_spark.datagen.binlog import write_singer_jsonl

    spec = BinlogSpec(num_events=2000, num_repos=4, paths_per_repo=20, num_partitions=2)
    d = str(tmp_path / "jsonl")
    write_singer_jsonl(spark, spec, d)
    rec = T.StructType(
        [T.StructField(c, T.StringType()) for c in ["repo", "path", "commit", "lang", "content", "op"]]
    )
    lines = spark.read.text(d + "/part-*")
    full = messages.records_for_stream(
        messages.parse_lines(lines, line_col="value", seq_from_envelope=True),
        "repos", rec, keep_envelope=("seq",),
    )
    lean = messages.parse_records_lean(lines, "repos", rec)
    assert lean.columns == full.columns
    h = ["sum(hash(seq,repo,path,commit,lang,content,op)) as h", "count(1) as n"]
    assert lean.selectExpr(*h).collect() == full.selectExpr(*h).collect()


def test_activation_fence_case_insensitive(spark, tmp_path):
    """A tap emitting mixed/lower-case message types must still trip the
    ACTIVATE_VERSION fence detection (ADVICE r3): both the riding flag and
    the fence scan prefilter case-insensitively, matching the upper()'d
    type dispatch of the parse paths."""
    import json as _json

    p = tmp_path / "mixed.jsonl"
    rows = [
        {"type": "RECORD", "stream": "repos", "seq": 1, "record": "{}"},
        {"type": "activate_version", "stream": "repos", "seq": 2, "version": 2},
        {"type": "Activate_Version", "stream": "repos", "seq": 9, "version": 7},
        # a version that is not a number falls back to the message's seq
        {"type": "ACTIVATE_VERSION", "stream": "other", "seq": 5, "version": "v5"},
    ]
    p.write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
    lines = spark.read.text(str(p))

    flagged, obs = messages.observe_fence_flag(lines, line_col="value")
    flagged.count()
    assert obs.get["has_fence"] == 1

    assert messages.scan_activation_fence(lines, "repos", line_col="value") == 7
    assert messages.scan_activation_fence(lines, "other", line_col="value") == 5
