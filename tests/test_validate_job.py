"""Record validation (P15) + config-driven job entry (P24)."""

import json
import os

import pytest

from pyspark.sql import functions as F

from plugin_singer_spark.operators.validate import (
    ValidationThresholdError,
    enforce_threshold,
    split_valid,
    validate_records,
)

SCHEMA = {
    "type": "object",
    "properties": {
        "id": {"type": "integer", "minimum": 0},
        "name": {"type": ["null", "string"], "maxLength": 5},
        "price": {"type": ["null", "number"], "multipleOf": 0.01},
        "status": {"type": ["null", "string"], "enum": ["a", "b"]},
    },
}


def _df(spark):
    rows = [
        (1, "ok", 1.25, "a"),      # valid
        (2, None, None, None),     # valid (nullables null)
        (-1, "ok", 1.25, "a"),     # id below minimum
        (3, "toolong", 1.25, "a"), # maxLength
        (4, "ok", 1.234, "a"),     # multipleOf
        (5, "ok", 1.25, "z"),      # enum
        (None, "ok", 1.25, "a"),   # required (id non-nullable union)
    ]
    return spark.createDataFrame(rows, "id int, name string, price double, status string")


def test_validate_splits_and_reasons(spark):
    validated = validate_records(_df(spark), SCHEMA)
    ok, bad = split_valid(validated)
    assert ok.count() == 2
    reasons = {r["id"]: set(r["_errors"]) for r in bad.collect()}
    assert reasons[-1] == {"id:minimum"}
    assert reasons[3] == {"name:maxLength"}
    assert reasons[4] == {"price:multipleOf"}
    assert reasons[5] == {"status:enum"}
    assert reasons[None] == {"id:required"}
    # valid rows do not carry the errors column
    assert "_errors" not in ok.columns


def test_validate_threshold(spark):
    validated = validate_records(_df(spark), SCHEMA)
    rep = enforce_threshold(validated, detect=True, threshold=5)
    assert (rep.total, rep.invalid, rep.valid) == (7, 5, 2)
    with pytest.raises(ValidationThresholdError):
        enforce_threshold(validated, detect=True, threshold=4)
    # detect off ⇒ never raises (invalid_records_detect=false)
    enforce_threshold(validated, detect=False, threshold=0)


def test_validate_multiple_of_large_values(spark):
    """Relative tolerance: a valid cents-multiple near 1e12 must not be
    false-flagged just because its ratio's double ulp exceeds 1e-9."""
    schema = {"type": "object", "properties": {"price": {"type": ["null", "number"], "multipleOf": 0.01}}}
    df = spark.createDataFrame(
        [(1, 1_000_000_000_000.01), (2, 999_999_999_999.99), (3, 12.345)], ["id", "price"]
    )
    reasons = {r["id"]: set(r["_errors"]) for r in validate_records(df, schema).collect()}
    assert reasons[1] == set() and reasons[2] == set()
    assert reasons[3] == {"price:multipleOf"}


def test_validate_no_constraints_passthrough(spark):
    df = _df(spark)
    validated = validate_records(df, {"type": "object", "properties": {}})
    ok, bad = split_valid(validated)
    assert ok.count() == df.count() and bad.count() == 0


def test_job_log_based_jsonl(spark, tmp_path):
    """End-to-end: job.json → replay raw Singer JSONL → lake table, resume."""
    from plugin_singer_spark.datagen import BinlogSpec
    from plugin_singer_spark.datagen.binlog import write_singer_jsonl
    from plugin_singer_spark.job import run_job

    spec = BinlogSpec(num_events=4000, num_repos=5, paths_per_repo=40, num_partitions=4)
    src_dir = str(tmp_path / "jsonl")
    write_singer_jsonl(spark, spec, src_dir)

    cfg = {
        "table": {
            "path": str(tmp_path / "repos"),
            "keys": ["repo", "path"],
            "num_buckets": 8,
            "columns": {
                "repo": "string",
                "path": "string",
                "commit": "string",
                "lang": "string",
                "content": "string",
            },
        },
        "source": {"format": "jsonl", "path": src_dir, "stream": "repos", "files_per_batch": 2},
        "replication_method": "LOG_BASED",
        "write_mode": "mor",
        "checkpoint_id": "jobtest",
    }
    out = run_job(spark, cfg)
    assert out["batches"] == 2
    assert out["events"] > 0
    assert out["final_rows"] > 0
    assert out["bookmarks"]["repos"]["replication_key_value"] > 0

    # re-run: every epoch fenced ⇒ no new events, same final state
    out2 = run_job(spark, cfg)
    assert out2["events"] == 0
    assert out2["final_rows"] == out["final_rows"]


def test_job_full_table_with_validation(spark, tmp_path):
    from plugin_singer_spark.job import run_job

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("r1", "a.py", "c1", "py", "x"), ("r1", "b.py", "c2", "py", "y")],
        "repo string, path string, commit string, lang string, content string",
    ).withColumn("seq", F.monotonically_increasing_id()).write.parquet(src)

    cfg = {
        "table": {
            "path": str(tmp_path / "t"),
            "keys": ["repo", "path"],
            "num_buckets": 4,
            "columns": {
                "repo": "string",
                "path": "string",
                "commit": "string",
                "lang": "string",
                "content": "string",
            },
        },
        "source": {"format": "parquet", "path": src, "stream": "repos"},
        "replication_method": "FULL_TABLE",
        "validate": {
            "type": "object",
            "properties": {"repo": {"type": "string"}, "lang": {"type": ["null", "string"], "maxLength": 8}},
        },
        "invalid_records_threshold": 0,
    }
    out = run_job(spark, cfg)
    assert out["events"] == 2 and out["final_rows"] == 2


def test_job_cli_roundtrip(tmp_path, spark):
    """main() parses --config and prints the report JSON (smoke, same session)."""
    from plugin_singer_spark import job as jobmod

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("r1", "a.py", "c1", "py", "x", 1)],
        "repo string, path string, commit string, lang string, content string, seq long",
    ).write.parquet(src)
    cfg = {
        "table": {
            "path": str(tmp_path / "t2"),
            "keys": ["repo", "path"],
            "num_buckets": 2,
            "columns": {
                "repo": "string",
                "path": "string",
                "commit": "string",
                "lang": "string",
                "content": "string",
            },
        },
        "source": {"format": "parquet", "path": src, "stream": "repos"},
        "replication_method": "INCREMENTAL",
        "replication_key": "seq",
    }
    p = tmp_path / "job.json"
    p.write_text(json.dumps(cfg))
    assert jobmod.main(["--config", str(p)]) == 0


def test_catalog_multi_stream_job(spark, tmp_path):
    """Catalog-driven job: selection rules pick streams + prune properties,
    each selected stream lands in its own table with the reference's
    per-stream counts (JsonTest.java:61-62 analog: 8 category + 4 region;
    PipelinewisePostgresTest.java:60-62 analog: pruned record width)."""
    import json as _json

    lines = (
        [
            _json.dumps({"type": "RECORD", "stream": "category", "seq": i,
                         "record": {"categoryid": i, "categoryname": f"c{i}", "description": "drop-me"}})
            for i in range(8)
        ]
        + [
            _json.dumps({"type": "RECORD", "stream": "region", "seq": 100 + i,
                         "record": {"regionid": i, "regiondescription": f"r{i}"}})
            for i in range(4)
        ]
        + [
            _json.dumps({"type": "RECORD", "stream": "unselected", "seq": 200,
                         "record": {"x": 1}})
        ]
    )
    raw = tmp_path / "raw.jsonl"
    raw.write_text("\n".join(lines) + "\n")

    cfg = {
        "catalog": {
            "streams": [
                {"stream": "category", "key_properties": ["categoryid"],
                 "schema": {"type": "object", "properties": {
                     "categoryid": {"type": "integer"},
                     "categoryname": {"type": ["null", "string"]},
                     "description": {"type": ["null", "string"]}}}},
                {"stream": "region", "key_properties": ["regionid"],
                 "schema": {"type": "object", "properties": {
                     "regionid": {"type": "integer"},
                     "regiondescription": {"type": ["null", "string"]}}}},
                {"stream": "unselected", "key_properties": ["x"],
                 "schema": {"type": "object", "properties": {"x": {"type": "integer"}}}},
            ]
        },
        "streams_configurations": [
            {"stream": "category", "selected": True},
            # regex deselect: description pruned (SelectedServiceTest order semantics)
            {"stream": "category", "properties_pattern": ["descr.*"], "selected": False},
            {"stream": "region", "selected": True, "replication_method": "INCREMENTAL",
             "replication_key": "regionid"},
        ],
        "source": {"path": str(raw)},
        "tables_root": str(tmp_path / "lake"),
        "num_buckets": 2,
    }
    from plugin_singer_spark.job import run_job

    out = run_job(spark, cfg)["streams"]
    assert set(out) == {"category", "region"}  # unselected stream skipped
    assert out["category"]["events"] == 8 and out["category"]["final_rows"] == 8
    assert out["region"]["events"] == 4 and out["region"]["final_rows"] == 4
    assert out["region"]["replication_method"] == "INCREMENTAL"
    # pruned width: description deselected, internal _sdc_* cols excluded
    data_cols = [c for c in out["category"]["columns"] if not c.startswith("_sdc")]
    assert data_cols == ["categoryid", "categoryname"]


def test_generic_source_adapter(spark, tmp_path):
    """GenericTap analog (taps/GenericTap.java:28-77): a user-registered
    reader callable flows through the full fenced replay/merge pipeline."""
    from plugin_singer_spark.job import register_source, run_job

    def my_reader(sp, src_cfg):
        return sp.createDataFrame(
            [(1, "I", "r1", "a.py", "c1", "py", "v1"),
             (2, "U", "r1", "a.py", "c2", "py", "v2"),
             (3, "D", "r1", "b.py", "c3", "py", None),
             (4, "I", "r2", "x.md", "c4", "md", "m1")],
            "seq long, op string, repo string, path string, commit string, lang string, content string",
        )

    register_source("my-tap", my_reader)
    cfg = {
        "table": {"path": str(tmp_path / "t"), "keys": ["repo", "path"], "num_buckets": 2,
                  "columns": {c: "string" for c in ["repo", "path", "commit", "lang", "content"]}},
        "source": {"format": "generic", "reader": "my-tap", "stream": "repos", "batch_events": 2},
        "replication_method": "LOG_BASED",
        "write_mode": "mor",
        "checkpoint_id": "generic-test",
    }
    out = run_job(spark, cfg)
    assert out["events"] == 4 and out["final_rows"] == 2
    # rerun: fenced epochs, nothing re-ingested
    out2 = run_job(spark, cfg)
    assert out2["events"] == 0 and out2["final_rows"] == 2


def test_generic_source_dotted_path(spark, tmp_path):
    """'pkg.mod:fn' reader resolution — no registration needed."""
    from plugin_singer_spark.job import _resolve_reader

    fn = _resolve_reader("tests.sample_reader:read_sample")
    assert fn(spark, {}).count() == 1


def test_job_quarantine_persisted(spark, tmp_path):
    """Invalid rows below the threshold land in the quarantine parquet with
    their _errors reasons (DatamillCoPostgres.java:148-149 + module contract)."""
    from plugin_singer_spark.job import run_job

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("r1", "a.py", "c1", "py", "x", 1), ("r2", "very-long-lang", "c2", "toolong!!", "y", 2)],
        "repo string, path string, commit string, lang string, content string, seq long",
    ).write.parquet(src)
    qdir = str(tmp_path / "quar")
    cfg = {
        "table": {"path": str(tmp_path / "t"), "keys": ["repo", "path"], "num_buckets": 2,
                  "columns": {c: "string" for c in ["repo", "path", "commit", "lang", "content"]}},
        "source": {"format": "parquet", "path": src, "stream": "repos"},
        "replication_method": "FULL_TABLE",
        "validate": {"type": "object", "properties": {"lang": {"type": ["null", "string"], "maxLength": 8}}},
        "invalid_records_threshold": 1,
        "quarantine_path": qdir,
    }
    out = run_job(spark, cfg)
    assert out["events"] == 1  # only the valid row loaded
    quar = spark.read.parquet(qdir)
    rows = quar.collect()
    assert len(rows) == 1 and rows[0]["lang"] == "toolong!!" and "lang:maxLength" in rows[0]["_errors"]
    # invalid_records_detect=false never raises even at threshold 0
    cfg2 = dict(cfg, invalid_records_detect=False, invalid_records_threshold=0)
    cfg2["table"] = dict(cfg["table"], path=str(tmp_path / "t2"))
    run_job(spark, cfg2)


def test_job_flatten_and_metadata_columns(spark, tmp_path):
    """data_flattening_max_level + add_metadata_columns from job.json
    (targets/PipelinewisePostgres.java:157,159)."""
    from pyspark.sql import Row

    from plugin_singer_spark.job import run_job

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [Row(seq=1, key="k1", props=Row(a="x", b=Row(c="deep")))]
    ).write.parquet(src)
    cfg = {
        "table": {"path": str(tmp_path / "t"), "keys": ["key"], "num_buckets": 2,
                  "columns": {"key": "string"}},
        "source": {"format": "parquet", "path": src, "stream": "s"},
        "replication_method": "FULL_TABLE",
        "flatten": {"max_level": 1},
        "add_metadata_columns": True,
    }
    out = run_job(spark, cfg)
    assert out["events"] == 1
    from plugin_singer_spark.lake import LakeTable

    cols = LakeTable(spark, cfg["table"]["path"]).read().columns
    assert "props__a" in cols and "props__b" in cols  # depth-1 stop: b stays struct
    assert "_sdc_extracted_at" in cols and "_sdc_loaded_at" in cols


def test_catalog_job_discovery_bootstrap(spark, tmp_path):
    """catalog='discover': schema bootstrapped from the raw artifact — SCHEMA
    messages win, schema-less streams inferred from records
    (taps/AbstractPythonTap.java:149-163)."""
    import json as _json

    from plugin_singer_spark.job import run_job

    lines = (
        [_json.dumps({"type": "SCHEMA", "stream": "category", "seq": 0,
                      "key_properties": ["categoryid"],
                      "schema": {"type": "object", "properties": {
                          "categoryid": {"type": "integer"},
                          "categoryname": {"type": ["null", "string"]}}}})]
        + [_json.dumps({"type": "RECORD", "stream": "category", "seq": i,
                        "record": {"categoryid": i, "categoryname": f"c{i}"}}) for i in range(1, 9)]
        + [_json.dumps({"type": "RECORD", "stream": "region", "seq": 100 + i,
                        "record": {"regionid": i, "regiondescription": f"r{i}"}}) for i in range(4)]
    )
    raw = tmp_path / "raw.jsonl"
    raw.write_text("\n".join(lines) + "\n")
    cfg = {
        "catalog": "discover",
        "streams_configurations": [{"selected": True}],
        "source": {"path": str(raw)},
        "tables_root": str(tmp_path / "lake"),
        "num_buckets": 2,
        "checkpoint_id": "disc",
    }
    out = run_job(spark, cfg)["streams"]
    assert out["category"]["events"] == 8 and out["region"]["events"] == 4
    # discovered-from-records stream has inferred columns
    assert "regiondescription" in out["region"]["columns"]
    # epoch fence: replaying the same artifact is a no-op
    out2 = run_job(spark, cfg)["streams"]
    assert out2["category"]["events"] == 0 and out2["region"]["events"] == 0
    assert out2["category"]["final_rows"] == 8


def test_catalog_job_incremental_without_key_raises(spark, tmp_path):
    import json as _json

    import pytest as _pytest

    from plugin_singer_spark.job import run_job

    raw = tmp_path / "raw.jsonl"
    raw.write_text(_json.dumps({"type": "RECORD", "stream": "s", "seq": 1, "record": {"x": 1}}) + "\n")
    cfg = {
        "catalog": {"streams": [{"stream": "s", "key_properties": ["x"],
                                 "schema": {"type": "object", "properties": {"x": {"type": "integer"}}}}]},
        "streams_configurations": [{"stream": "s", "selected": True, "replication_method": "INCREMENTAL"}],
        "source": {"path": str(raw)},
        "tables_root": str(tmp_path / "lake"),
    }
    with _pytest.raises(ValueError, match="replication-key"):
        run_job(spark, cfg)


def test_job_sql_hooks(spark, tmp_path):
    """before/after SQL hooks (targets/DatamillCoPostgres.java:159-168)."""
    from plugin_singer_spark.job import run_job

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("r1", "a.py", "c1", "py", "x", 1)],
        "repo string, path string, commit string, lang string, content string, seq long",
    ).write.parquet(src)
    cfg = {
        "table": {"path": str(tmp_path / "t"), "keys": ["repo", "path"], "num_buckets": 2,
                  "columns": {c: "string" for c in ["repo", "path", "commit", "lang", "content"]}},
        "source": {"format": "parquet", "path": src, "stream": "repos"},
        "replication_method": "FULL_TABLE",
        "before_sql": ["CREATE OR REPLACE TEMP VIEW hook_probe AS SELECT 1 AS ok"],
        "after_sql": ["CREATE OR REPLACE TEMP VIEW hook_result AS SELECT count(*) AS n FROM repos"],
    }
    run_job(spark, cfg)
    assert spark.sql("SELECT ok FROM hook_probe").collect()[0]["ok"] == 1
    assert spark.sql("SELECT n FROM hook_result").collect()[0]["n"] == 1


@pytest.mark.parametrize("streaming", [False, True])
def test_catalog_job_where_limit_and_activate_version(spark, tmp_path, streaming):
    """Per-stream WHERE/limit shaping (taps/BigQuery.java:46-50,128-141) and
    ACTIVATE_VERSION full-resync fence through the catalog job — batch and
    ``streaming: true`` alike (both run the shared epoch step). A per-stream
    limit is batch-only: a streaming job rejects it."""
    import json as _json

    from plugin_singer_spark.job import run_job

    lines = (
        [_json.dumps({"type": "RECORD", "stream": "cat", "seq": i,
                      "record": {"id": i, "name": f"c{i}"}}) for i in range(10)]
        # full resync re-sends only ids 0-4 with newer seqs...
        + [_json.dumps({"type": "RECORD", "stream": "cat", "seq": 100 + i,
                        "record": {"id": i, "name": f"c{i}x"}}) for i in range(5)]
        # ...then activates: ids 5-9 (never re-sent) must disappear
        # version = first seq of the resync — the activation fence
        + [_json.dumps({"type": "ACTIVATE_VERSION", "stream": "cat", "seq": 200, "version": 100})]
    )
    src = tmp_path / "src"
    src.mkdir()
    (src / "raw.jsonl").write_text("\n".join(lines) + "\n")
    selection = {"stream": "cat", "selected": True, "where": "id >= 1"}
    cfg = {
        "catalog": {"streams": [{"stream": "cat", "key_properties": ["id"],
                                 "schema": {"type": "object", "properties": {
                                     "id": {"type": "integer"},
                                     "name": {"type": ["null", "string"]}}}}]},
        "streams_configurations": [selection],
        "source": {"path": str(src)},
        "tables_root": str(tmp_path / "lake"),
        "num_buckets": 2,
        "streaming": streaming,
    }
    capped = {**cfg, "streams_configurations": [{**selection, "limit": 100}]}
    if streaming:
        with pytest.raises(ValueError, match="limit"):
            run_job(spark, capped)
    else:
        cfg = capped
    out = run_job(spark, cfg)["streams"]["cat"]
    from plugin_singer_spark.lake import LakeTable

    rows = {r["id"]: r["name"] for r in LakeTable(spark, out["table"]).read().collect()}
    # where dropped id 0; activation dropped never-re-sent ids 5-9;
    # re-sent ids carry the resync values
    assert rows == {1: "c1x", 2: "c2x", 3: "c3x", 4: "c4x"}


def test_job_report_metrics_and_type_options(spark, tmp_path):
    """The job report carries Singer-style METRIC records
    (AbstractPythonSinger.java:322-356) and catalog jobs honor the
    type-preference knobs (use_date_datatype, prefer_float_over_numeric)."""
    import json as _json

    from plugin_singer_spark.job import run_job

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("r1", "a.py", "c1", "py", "x", 1)],
        "repo string, path string, commit string, lang string, content string, seq long",
    ).write.parquet(src)
    cfg = {
        "table": {"path": str(tmp_path / "t"), "keys": ["repo", "path"], "num_buckets": 2,
                  "columns": {c: "string" for c in ["repo", "path", "commit", "lang", "content"]}},
        "source": {"format": "parquet", "path": src, "stream": "Repos"},
        "replication_method": "FULL_TABLE",
    }
    out = run_job(spark, cfg)
    m = out["metrics"][0]
    assert m["metric"] == "singer.record.count" and m["value"] == 1
    assert m["tags"]["stream"] == "repos"  # lowercased tag values

    raw = tmp_path / "raw.jsonl"
    raw.write_text(_json.dumps({"type": "RECORD", "stream": "s", "seq": 1,
                                "record": {"id": 1, "price": 9.5}}) + "\n")
    ccfg = {
        "catalog": {"streams": [{"stream": "s", "key_properties": ["id"],
                                 "schema": {"type": "object", "properties": {
                                     "id": {"type": "integer"},
                                     "price": {"type": ["null", "number"], "multipleOf": 0.01}}}}]},
        "streams_configurations": [{"stream": "s", "selected": True}],
        "source": {"path": str(raw)},
        "tables_root": str(tmp_path / "lake"),
        "type_options": {"prefer_float_over_numeric": True},
    }
    out = run_job(spark, ccfg)["streams"]["s"]
    from plugin_singer_spark.lake import LakeTable

    schema = {f.name: f.dataType.simpleString() for f in LakeTable(spark, out["table"]).snapshot().schema.fields}
    assert schema["price"] == "double"  # prefer_float beats DecimalType(p,2)


def test_job_streaming_mode(spark, tmp_path):
    """'streaming': true runs the Structured Streaming driver (bounded
    availableNow run when no batch_wait_limit_seconds) through job.json."""
    from plugin_singer_spark.datagen import BinlogSpec, expected_final_state, generate_binlog
    from plugin_singer_spark.job import run_job
    from plugin_singer_spark.lake import LakeTable

    spec = BinlogSpec(num_events=2000, num_repos=6, paths_per_repo=20, num_partitions=4)
    binlog = generate_binlog(spark, spec)
    src = str(tmp_path / "binlog")
    binlog.write.parquet(src)
    cfg = {
        "table": {"path": str(tmp_path / "t"), "keys": ["repo", "path"], "num_buckets": 4,
                  "columns": {c: "string" for c in ["repo", "path", "commit", "lang", "content"]}},
        "source": {"format": "parquet", "path": src, "stream": "repos", "files_per_batch": 2},
        "replication_method": "LOG_BASED",
        "streaming": True,
        "checkpoint_id": "sjob",
    }
    out = run_job(spark, cfg)
    assert out["streaming"] is True and out["batches"] >= 2 and out["events"] == 2000
    # fenced re-run: this-run events must be 0, not the cumulative lineage
    out2 = run_job(spark, cfg)
    assert out2["events"] == 0
    exp = expected_final_state(binlog).select("repo", "path", "content")
    got = LakeTable(spark, cfg["table"]["path"]).read().select("repo", "path", "content")
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_catalog_job_inband_schema_evolution(spark, tmp_path):
    """A mid-stream SCHEMA message adds a column the catalog doesn't know:
    records after it carry the value, the table widens (SURVEY §1.3)."""
    import json as _json

    from plugin_singer_spark.job import run_job
    from plugin_singer_spark.lake import LakeTable

    lines = (
        [_json.dumps({"type": "RECORD", "stream": "cat", "seq": i,
                      "record": {"id": i, "name": f"c{i}"}}) for i in range(3)]
        + [_json.dumps({"type": "SCHEMA", "stream": "cat", "seq": 10,
                        "schema": {"type": "object", "properties": {
                            "id": {"type": "integer"},
                            "name": {"type": ["null", "string"]},
                            "stars": {"type": ["null", "integer"]}}}})]
        + [_json.dumps({"type": "RECORD", "stream": "cat", "seq": 11,
                        "record": {"id": 99, "name": "new", "stars": 7}})]
    )
    raw = tmp_path / "raw.jsonl"
    raw.write_text("\n".join(lines) + "\n")
    cfg = {
        "catalog": {"streams": [{"stream": "cat", "key_properties": ["id"],
                                 "schema": {"type": "object", "properties": {
                                     "id": {"type": "integer"},
                                     "name": {"type": ["null", "string"]}}}}]},
        "streams_configurations": [{"stream": "cat", "selected": True}],
        "source": {"path": str(raw)},
        "tables_root": str(tmp_path / "lake"),
    }
    out = run_job(spark, cfg)["streams"]["cat"]
    assert "stars" in out["columns"]
    rows = {r["id"]: r for r in LakeTable(spark, out["table"]).read().collect()}
    assert rows[99]["stars"] == 7 and rows[0]["stars"] is None
