"""Resumability: kill-and-resume semantics via the per-partition
lineage table (north_rule)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from renet2_spark.sources.checkpoint import CheckpointStore, with_part_key
from tests.conftest import SF_SMOKE


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )


def test_stage_runs_and_resumes_noop(spark, root):
    store = CheckpointStore(spark, root)
    calls = []

    def transform(df):
        calls.append(1)
        return df.withColumn("n_chars2", F.length("text"))

    out1 = store.run_stage("stats", _docs(spark), transform)
    assert out1.count() == 500
    assert store.committed("stats").count() == 32
    # resume: nothing to do, transform not invoked again
    n_calls = len(calls)
    out2 = store.run_stage("stats", _docs(spark), transform)
    assert out2.count() == 500
    assert len(calls) == n_calls


def test_partial_failure_resume_recomputes_only_missing(spark, root):
    store = CheckpointStore(spark, root)

    def transform(df):
        return df.withColumn("n_chars2", F.length("text"))

    store.run_stage("stats", _docs(spark), transform)
    # simulate a crash that lost 3 partitions' lineage commits
    lin = store.lineage("stats")
    keep = lin.filter(~F.col("part_key").isin([0, 1, 2]))
    keep.write.mode("overwrite").parquet(root + "/stats/lineage_tmp")
    shutil.rmtree(root + "/stats/lineage")
    shutil.move(root + "/stats/lineage_tmp", root + "/stats/lineage")
    assert store.committed("stats").count() == 29

    seen = []

    def transform2(df):
        seen.append(df.select("doc_id").count())
        return df.withColumn("n_chars2", F.length("text"))

    out = store.run_stage("stats", _docs(spark), transform2)
    # only the 3 lost buckets were recomputed...
    keyed = with_part_key(_docs(spark))
    expected = keyed.filter(F.col("part_key").isin([0, 1, 2])).count()
    assert seen == [expected]
    # ...and the final output is complete and deduplicated
    assert out.count() == 500
    assert out.select("doc_id").distinct().count() == 500


def test_input_change_invalidates_bucket(spark, root):
    store = CheckpointStore(spark, root)

    def transform(df):
        return df.withColumn("n_chars2", F.length("text"))

    store.run_stage("stats", _docs(spark), transform)
    # drop one doc -> exactly the buckets containing it recompute
    docs2 = _docs(spark).filter(F.col("doc_id") != "7")
    out = store.run_stage("stats", docs2, transform)
    assert out.count() == 499


def test_resume_survives_key_type_change_in_transform(spark, root):
    """ADVICE r1 (high) repro: bigint doc_id input + a transform that
    (like build_edges) emits string doc_id. Buckets must agree between
    input fingerprinting and output partitioning, or a partial resume
    dynamic-overwrites committed partitions holding other buckets'
    rows."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )  # doc_id stays BIGINT here

    def transform(df):
        return df.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.length("text").alias("n_chars2"),
        )

    store = CheckpointStore(spark, root)
    out1 = store.run_stage("edges", docs, transform, buckets=8)
    assert out1.count() == 500
    # lose one bucket's lineage (simulated crash before commit)
    lin = store.lineage("edges")
    keep = lin.filter(F.col("part_key") != 0)
    keep.write.mode("overwrite").parquet(root + "/edges/lineage_tmp")
    shutil.rmtree(root + "/edges/lineage")
    shutil.move(root + "/edges/lineage_tmp", root + "/edges/lineage")

    out2 = store.run_stage("edges", docs, transform, buckets=8)
    assert out2.count() == 500  # was 61/500 before the fix
    assert out2.select("doc_id").distinct().count() == 500


def test_text_change_same_ids_invalidates_bucket(spark, root):
    """ADVICE r1 (medium) repro: same doc_id set, changed text content
    must invalidate the bucket's fingerprint and serve fresh output."""
    docs = _docs(spark)

    def transform(df):
        return df.select("doc_id", F.length("text").alias("n_chars2"))

    store = CheckpointStore(spark, root)
    store.run_stage("stats", docs, transform)
    docs2 = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == "7", F.concat(F.col("text"), F.lit(" x")))
        .otherwise(F.col("text")),
    )
    out = store.run_stage("stats", docs2, transform)
    want = docs2.filter(F.col("doc_id") == "7").select(
        F.length("text")
    ).collect()[0][0]
    got = out.filter(F.col("doc_id") == "7").collect()[0]["n_chars2"]
    assert got == want  # stale before the fix (fingerprint was id-only)


def test_key_rewriting_transform_fails_loudly(spark, root):
    """A transform that REWRITES key values cannot resume idempotently;
    run_stage must refuse rather than silently lose partitions."""
    store = CheckpointStore(spark, root)
    store.run_stage("bad", _docs(spark), lambda df: df)
    # partial resume (one bucket lost) with a key-rewriting transform:
    # rewritten keys hash into OTHER buckets -> must refuse
    lin = store.lineage("bad")
    keep = lin.filter(F.col("part_key") != 0)
    keep.write.mode("overwrite").parquet(root + "/bad/lineage_tmp")
    shutil.rmtree(root + "/bad/lineage")
    shutil.move(root + "/bad/lineage_tmp", root + "/bad/lineage")

    def bad(df):
        return df.select(
            F.concat(F.lit("x"), F.col("doc_id")).alias("doc_id"), "text"
        )

    with pytest.raises(ValueError, match="hashes outside"):
        store.run_stage("bad", _docs(spark), bad)


def _persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_run_stage_releases_its_persists(spark, root):
    """Input and output persists are released on every path out: a
    normal run, a no-op resume and the stray-key refusal."""
    store = CheckpointStore(spark, root)
    base = _persisted(spark)
    store.run_stage("bad", _docs(spark), lambda df: df)
    assert _persisted(spark) == base
    store.run_stage("bad", _docs(spark), lambda df: df)  # no-op resume
    assert _persisted(spark) == base
    lin = store.lineage("bad")
    keep = lin.filter(F.col("part_key") != 0)
    keep.write.mode("overwrite").parquet(root + "/bad/lineage_tmp")
    shutil.rmtree(root + "/bad/lineage")
    shutil.move(root + "/bad/lineage_tmp", root + "/bad/lineage")

    def bad(df):
        return df.select(
            F.concat(F.lit("x"), F.col("doc_id")).alias("doc_id"), "text"
        )

    with pytest.raises(ValueError, match="hashes outside"):
        store.run_stage("bad", _docs(spark), bad)
    assert _persisted(spark) == base


def test_stage_input_computed_once(spark, root):
    """The stage input's plan runs once per run_stage: the fingerprint
    job fills the input cache and the recomputed subset reads it."""
    acc = spark.sparkContext.accumulator(0)

    def bump(text):
        acc.add(1)
        return len(text)

    n_chars = F.udf(bump, "int")
    docs = _docs(spark)
    inp = docs.withColumn("n_chars2", n_chars("text"))
    CheckpointStore(spark, root).run_stage("stats", inp, lambda df: df)
    assert acc.value == docs.count()


def test_corrupt_lineage_raises(spark, root):
    """Only a missing lineage table reads as "nothing committed"; an
    unreadable one must raise instead of recomputing every bucket."""
    store = CheckpointStore(spark, root)
    store.run_stage("stats", _docs(spark), lambda df: df)
    lin = root + "/stats/lineage"
    shutil.rmtree(lin)
    os.makedirs(lin)
    with open(lin + "/part-00000-corrupt.snappy.parquet", "wb") as f:
        f.write(b"not a parquet file " * 64)
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        store.run_stage("stats", _docs(spark), lambda df: df)


def test_interrupted_first_lineage_append_resumes(spark, root):
    """A first lineage append killed before its commit leaves only
    `_temporary/`: that is "nothing committed", not a read error."""
    store = CheckpointStore(spark, root)
    store.run_stage("stats", _docs(spark), lambda df: df)
    lin = root + "/stats/lineage"
    shutil.rmtree(lin)
    os.makedirs(lin + "/_temporary/0")
    out = store.run_stage("stats", _docs(spark), lambda df: df)
    assert out.count() == 500
    assert store.committed("stats").count() == 32


def test_local_table_empty_keeps_schema(spark):
    from renet2_spark.session import local_table

    empty = local_table(spark, [], "k string, v long")
    assert empty.schema.simpleString() == "struct<k:string,v:bigint>"
    assert empty.count() == 0


def test_local_table_conversion_error_raises(spark, monkeypatch):
    """Only a missing pandas falls back to the Python-RDD path; any
    other failure raises instead of silently costing Python workers."""
    import pandas as pd

    from renet2_spark.session import local_table

    def broken(*args, **kwargs):
        raise RuntimeError("conversion failed")

    monkeypatch.setattr(pd, "DataFrame", broken)
    with pytest.raises(RuntimeError, match="conversion failed"):
        local_table(spark, [("a", 1)], "k string, v long")


def test_metrics_roundtrip(spark, root):
    store = CheckpointStore(spark, root)
    store.record_metrics("tag", {"docs_per_sec": 123.4, "mentions": 11233})
    m = {r["metric"]: r["value"] for r in store.metrics().collect()}
    assert m["docs_per_sec"] == 123.4


def test_auto_probe_decision_lands_in_metrics(spark, root):
    """build_edges with corpus='auto' + a store must record the probe
    routing decision as metric rows (round-3 verdict wrong #1: the
    routing was unobservable)."""
    from renet2_spark.plans.pipeline import build_edges

    store = CheckpointStore(spark, root)
    build_edges(spark, _docs(spark), store=store, corpus="auto").collect()
    m = {
        (r["stage"], r["metric"]): r["value"]
        for r in store.metrics().collect()
    }
    assert m[("probe", "packed")] == 1.0
    assert m[("probe", "sampled_docs")] >= 1.0


def test_write_table_parquet_fallback(spark, root):
    """S6 sink: no Iceberg runtime on this classpath -> write_table
    degrades to parquet with the same layout contract."""
    from renet2_spark.sources.tables import (
        iceberg_available,
        read_table,
        write_table,
    )

    df = spark.createDataFrame(
        [("1", "Gene", 3), ("2", "Disease", 5)],
        "doc_id string, type string, n int",
    )
    path = root + "/nodes"
    fmt = write_table(df, path, partition_by=["type"])
    assert fmt == ("iceberg" if iceberg_available(spark) else "parquet")
    back = read_table(spark, path)
    assert back.count() == 2
    assert {r["type"] for r in back.collect()} == {"Gene", "Disease"}
