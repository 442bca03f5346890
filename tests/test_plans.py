"""Physical-plan assertions: the optimizations we rely on at 100 TB must be
visible in `.explain` — filter pushdown to the parquet scan, column pruning
in ReadSchema, whole-stage codegen on the hot paths, and no Python in the
row path (BASELINE input_hint)."""

import pytest
from pyspark.sql import functions as F, types as T

from plugin_singer_spark.lake import LakeTable, merge_into

REPOS = T.StructType([T.StructField(c, T.StringType()) for c in ["repo", "path", "commit", "lang", "content"]])
COLS = "seq long, op string, repo string, path string, commit string, lang string, content string"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_incremental_filter_pushes_to_scan(spark, tmp_path):
    """The bookmark filter must reach the parquet scan as a pushed filter —
    the engine-side analog of the tap's source-side WHERE
    (taps/BigQuery.java:136-140; Catalyst PushDownPredicates)."""
    src = str(tmp_path / "src")
    spark.createDataFrame([(i, f"r{i}") for i in range(100)], "seq long, repo string").write.parquet(src)
    df = spark.read.parquet(src).filter(F.col("seq") > 42)
    plan = plan_of(df)
    assert "PushedFilters" in plan and "GreaterThan(seq,42)" in plan


def test_selection_prunes_read_schema(spark, tmp_path):
    """Property selection is true column pruning: the scan's ReadSchema
    carries only selected columns (SelectedService semantics → select list,
    services/SelectedService.java:34-42)."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "a", "b", "c")], "seq long, keep1 string, keep2 string, dropped string"
    ).write.parquet(src)
    df = spark.read.parquet(src).select("keep1", "keep2")
    plan = plan_of(df)
    assert "keep1" in plan and "dropped" not in plan.split("ReadSchema")[1]


def test_lake_read_pushes_tombstone_filter(spark, tmp_path):
    """The default read's tombstone filter is a plain parquet-pushable
    predicate on a compacted table — not a post-scan Python filter."""
    t = LakeTable.create(spark, str(tmp_path / "t"), REPOS, ["repo", "path"], num_buckets=2)
    merge_into(t, spark.createDataFrame([(1, "I", "r", "p", "c", "py", "v")], COLS))
    plan = plan_of(t.read())
    assert "PushedFilters: [IsNull(_sdc_deleted_at)]" in plan


def test_no_python_udf_in_merge_plan(spark, tmp_path):
    """BASELINE input_hint: no per-row Python anywhere in the merge path —
    the executed plan must not contain BatchEvalPython/PythonUDF nodes,
    and the scan side runs inside whole-stage codegen."""
    t = LakeTable.create(spark, str(tmp_path / "t"), REPOS, ["repo", "path"], num_buckets=2)
    merge_into(t, spark.createDataFrame([(1, "I", "r", "p", "c", "py", "v")], COLS))
    plan = plan_of(t.read())
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    # "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    assert "*(1)" in plan


def test_lww_dedup_is_partial_aggregated(spark):
    """The LWW combine must run as an aggregate with a map-side partial pass
    — the shuffle carries ≤1 row per key per input partition — and exchange
    on the key columns, not as a global sort window."""
    from plugin_singer_spark.lake.merge import lww_dedup

    df = spark.createDataFrame(
        [(i, "r", f"p{i % 3}", f"v{i}") for i in range(100)],
        "seq long, repo string, path string, content string",
    )
    out = lww_dedup(df, ["repo", "path"])
    out.collect()  # AQE finalizes the plan on execution
    plan = plan_of(out)
    assert "partial_max_by" in plan  # map-side combine before the exchange
    assert "Exchange hashpartitioning(repo" in plan
    assert "Window" not in plan  # not the row_number() formulation


def test_parse_path_is_jvm_only(spark):
    """The JSONL envelope parse (json_tuple + from_json) stays JVM-side."""
    from plugin_singer_spark import messages

    lines = spark.createDataFrame(
        [('{"type":"RECORD","stream":"s","seq":1,"record":{"repo":"r"}}',)], ["value"]
    )
    struct = T.StructType([T.StructField("repo", T.StringType())])
    plan = plan_of(messages.parse_records_lean(lines, "s", struct, line_col="value"))
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_mor_read_column_pruning(spark, tmp_path):
    """read(columns=...) must shrink the parquet ReadSchema even for MOR
    dirty buckets — a caller's select cannot push through the LWW max_by
    struct, so the pruning has to happen at the read schema."""
    from plugin_singer_spark.lake.merge import merge_append

    t = LakeTable.create(spark, str(tmp_path / "t"), REPOS, ["repo", "path"], num_buckets=2)
    merge_append(t, spark.createDataFrame([(1, "I", "r", "p", "c", "py", "v")], COLS))
    assert t.snapshot().delta_files  # dirty (MOR) path
    pruned = t.read(columns=["repo", "path"])
    assert pruned.columns == ["repo", "path"]
    plan = plan_of(pruned)
    read_schemas = [seg.split("...")[0] for seg in plan.split("ReadSchema: ")[1:]]
    assert read_schemas and all("content" not in rs for rs in read_schemas)
    # values identical to the unpruned read
    full = sorted(map(tuple, t.read().select("repo", "path").collect()))
    assert sorted(map(tuple, pruned.collect())) == full


def test_retrieval_query_plan_shapes(spark):
    """Lock the physical shapes of the retrieval/curation queries:
    bm25 = one scan + TakeOrderedAndProject, NO shuffle; stratified
    sampling = pure scan filter, NO shuffle; tfidf joins its
    vocabulary-sized df table by BROADCAST, not sort-merge; quality_topk
    pays exactly one exchange (the per-group window)."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"

    plan = plan_of(e.queries()["bm25_search"](spark, sf))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan and "BatchEvalPython" not in plan

    plan = plan_of(e.queries()["stratified_sample"](spark, sf))
    assert "Exchange" not in plan and "BatchEvalPython" not in plan

    plan = plan_of(e.queries()["tfidf_top_terms"](spark, sf))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    plan = plan_of(e.queries()["quality_topk"](spark, sf))
    assert plan.count("Exchange") == 1 and "BatchEvalPython" not in plan


def test_minhash_simhash_single_shuffle_partial_agg(spark):
    """The MinHash signature and SimHash fingerprint plans carry exactly ONE
    exchange each, preceded by map-side partial aggregation (partial_min /
    partial_sum over the un-exploded rows) — the shape that keeps both
    linear at 100 TB. A reintroduced posexplode would double the exchanges
    and inflate the shuffle K-fold."""
    from pyspark.sql import Row

    from plugin_singer_spark.operators.dedup import minhash_signatures, simhash

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="alpha beta gamma delta epsilon zeta") for i in range(10)]
    )

    p1 = plan_of(minhash_signatures(docs, "doc_id", num_hashes=8))
    assert p1.count("Exchange") == 1, p1
    assert "partial_min" in p1

    p2 = plan_of(simhash(docs, "doc_id", bits=16))
    assert p2.count("Exchange") == 1, p2
    assert "partial_sum" in p2


def test_lsh_topk_score_first_no_vector_dedup_shuffle(spark):
    """The LSH candidate pipeline scores BEFORE the pair-dedup: the
    post-join aggregate is partial_max over a scalar score, so the pair
    exchange carries (query, vec, score) triplets — a vector-carrying
    dropDuplicates exchange here was the whole query cost at 1M×dim-64
    (r5 crossover re-measure). Guard: partial_max present, and the
    hash-aggregate on (query_id, vec_id) carries no array-typed column."""
    from pyspark.sql import Row

    from plugin_singer_spark.operators.similarity import lsh_topk

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float((i * 7 + d) % 5) for d in range(8)]) for i in range(40)]
    )
    q = emb.limit(4).selectExpr("vec_id as query_id", "embedding")
    plan = plan_of(lsh_topk(emb, q, dim=8, k=3, planes=4, tables=2, multiprobe=1))
    assert "partial_max" in plan, plan
    # the dedup aggregate keys on (query_id, vec_id) and must not carry
    # embeddings: no aggregate expression over an array column
    import re

    agg_lines = [ln for ln in plan.splitlines() if "HashAggregate" in ln or "SortAggregate" in ln]
    assert agg_lines and not any("_qv" in ln or "_cv" in ln for ln in agg_lines), plan


def test_neardup_bare_pair_dedup_then_gather(spark):
    """embedding_neardup_pairs self-joins a BARE (id, bucket) table, dedups
    (id_a, id_b) pairs, then gathers vectors back by id-join and scores each
    unique pair once — vectors move O(|corpus| + |unique pairs|), never per
    collision (10× corpus: vector-carrying dedup 44.7 s → gather 4.1 s,
    BENCH/COSINE_KERNEL_AB.md shape ladder). Guards: the pair-dedup aggregate and
    the bucket self-join carry no vector or norm column — only the two
    gather joins (on id) touch arrays."""
    from pyspark.sql import Row

    from plugin_singer_spark.operators.similarity import embedding_neardup_pairs

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float((i * 7 + d) % 5) for d in range(8)]) for i in range(40)]
    )
    df = embedding_neardup_pairs(
        emb, dim=8, threshold=0.9, planes=4, tables=2, corpus_count=40
    )
    plan = plan_of(df)
    agg_lines = [ln for ln in plan.splitlines() if "HashAggregate" in ln or "SortAggregate" in ln]
    assert agg_lines and not any("_va" in ln or "_vb" in ln or "_n" in ln or " v#" in ln for ln in agg_lines), plan
    bucket_join = [ln for ln in plan.splitlines() if "bucket" in ln and ("Join" in ln or "join" in ln)]
    assert bucket_join and not any(" v#" in ln or "_n#" in ln for ln in bucket_join), plan
    from plugin_singer_spark.operators.stagecache import release_stage_caches

    release_stage_caches()


def test_lean_jsonl_epoch_runs_two_spark_jobs(spark, tmp_path):
    """One lean-JSONL ``replay_files`` epoch (the benchmarked replay path:
    MOR, no in-batch dedup) runs exactly two Spark jobs: the bucket write's
    shuffle-map stage and its result stage. The ACTIVATE_VERSION flag rides
    that scan and the epoch fence reads the manifest, so neither adds an
    action; an extra job here is a per-epoch fixed cost at any scale."""
    from plugin_singer_spark.datagen import BinlogSpec
    from plugin_singer_spark.datagen.binlog import write_singer_jsonl
    from plugin_singer_spark.ingest.streaming import replay_files

    src = str(tmp_path / "jsonl")
    write_singer_jsonl(spark, BinlogSpec(num_events=3000, num_repos=5, paths_per_repo=20,
                                         num_partitions=3), src)
    table = LakeTable.create(spark, str(tmp_path / "t"), REPOS, ["repo", "path"], num_buckets=4)
    record_schema = T.StructType(list(REPOS.fields) + [T.StructField("op", T.StringType())])

    def epoch():
        return replay_files(spark, table, src, files_per_batch=1, checkpoint_id="jobs",
                            input_format="jsonl", record_schema=record_schema, mode="mor",
                            final_compact=False, dedup=False, max_batches=1)

    epoch()  # warm-up epoch: first-use planning must not count
    sc = spark.sparkContext
    sc.setJobGroup("lean_epoch", "one lean-JSONL replay epoch")
    try:
        stats = epoch()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats.batches == 1 and stats.events == 1000
    assert len(sc.statusTracker().getJobIdsForGroup("lean_epoch")) == 2
