"""The four workloads: inputs, the timed operation and the output check.

Each operation is what a user runs: build the plan from documents on
disk and write the complete result as parquet (the projection
``python -m renet2_spark predict`` writes for the KG workloads). The
check reads the written files back with pyarrow, so every output column
is decoded, undoes the seed's doc_id remap and compares the rows with
the package's oracle on the base corpus.
"""

from __future__ import annotations

import contextlib
import os
import re

import duckdb
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from renet2_spark import oracles

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PREDICT_COLS = ("pmid", "geneId", "diseaseId", "g_name", "d_name", "prob_avg")


def _predict_projection(edges):
    # the columns `renet2_spark predict` writes (cli.cmd_predict)
    return edges.select(
        F.col("doc_id").alias("pmid"),
        F.col("gene_id").alias("geneId"),
        F.col("disease_id").alias("diseaseId"),
        "g_name",
        "d_name",
        "prob_avg",
    )


def _null_sink(_name):
    return contextlib.nullcontext()


class Workload:
    name = ""
    copies = 1  # replicas of each base document in the input
    raw = False  # input is the punctuated raw-text twin

    def make_input(self, spark, base: pd.DataFrame, remap, path: str) -> None:
        if self.raw:
            from renet2_spark.corpus import raw_text_twin_messy

            # the twin's punctuation is keyed on doc_id: build it from
            # the base ids, so that every seed reads the same texts
            base = raw_text_twin_messy(spark.createDataFrame(base)).toPandas()
        remap.apply(base).to_parquet(path, index=False)

    def build(self, spark, docs, work_dir: str, sink) -> dict:
        """Output part name -> DataFrame to write."""
        raise NotImplementedError

    def run(self, spark, in_path, out_dir, work_dir, sink=_null_sink):
        """The timed operation: build the plan, write every part. The
        jobs of each write run inside ``sink(<part>)``."""
        outs = self.build(spark, spark.read.parquet(in_path), work_dir, sink)
        for part, df in outs.items():
            with sink(part):
                df.write.mode("overwrite").parquet(os.path.join(out_dir, part))
        return next(iter(outs.values()))

    def rows(self, out_dir: str, remap) -> list[tuple]:
        """Written output as sorted base-id rows (all columns read)."""
        t = pq.read_table(os.path.join(out_dir, "edges")).to_pandas()
        t = t[list(PREDICT_COLS)]
        base = remap.base(t["pmid"].to_numpy())
        replica = remap.replica(t["pmid"].to_numpy())
        return sorted(
            (str(b), str(k), str(r[1]), str(r[2]), str(r[3]), str(r[4]),
             repr(float(r[5])))
            for b, k, r in zip(base, replica, t.itertuples(index=False))
        )


class KgPacked(Workload):
    name = "kg_packed"
    copies = 2
    oracle_sql = staticmethod(oracles.q_edges)

    def build(self, spark, docs, work_dir, sink):
        from renet2_spark.plans.pipeline import build_edges
        from renet2_spark.sources.checkpoint import CheckpointStore

        store = CheckpointStore(spark, os.path.join(work_dir, "checkpoint"))
        edges = build_edges(spark, docs, corpus="auto", store=store)
        return {"edges": _predict_projection(edges)}

    def oracle(self, base: pd.DataFrame) -> list[tuple]:
        """The oracle's rows for the base corpus (base ids), in the
        shape ``rows`` returns."""
        t = _duckdb(base).execute(_in_checkout(self.oracle_sql())).df()
        # every replica of a base document carries that document's edges
        return sorted(
            (str(r.doc_id), str(k), str(r.gene_id), str(r.disease_id),
             str(r.g_name), str(r.d_name), repr(float(r.prob_avg)))
            for r in t.itertuples(index=False)
            for k in range(self.copies)
        )


class KgRaw(KgPacked):
    name = "kg_raw"
    copies = 1
    raw = True


class KgNeural(KgPacked):
    name = "kg_neural"
    copies = 1
    # the frozen neural golden, selected by the corpus's sum(n_chars)
    # fingerprint: it covers the sf0.001 and sf0.01 corpora
    oracle_sql = staticmethod(oracles.q_edges_neural_golden)

    def build(self, spark, docs, work_dir, sink):
        from renet2_spark.plans.pipeline import build_edges_neural

        edges = build_edges_neural(spark, docs, corpus="auto")
        return {"edges": _predict_projection(edges)}


class CurateDedup(Workload):
    name = "curate_dedup"

    def build(self, spark, docs, work_dir, sink):
        from renet2_spark.operators import dedup as dd

        sh = dd.cache_shared_shingles(docs)
        if sink is not _null_sink:
            # traced runs only: build the shared shingle cache on its
            # own, so its time is split from the two consumers'
            with sink("shingle"):
                sh.select(F.count(F.struct(*sh.columns))).first()
        return {"minhash": dd.dedup_minhash_lsh(docs, shingles=sh),
                "ngram": dd.dedup_ngram_jaccard(docs, shingles=sh)}

    def rows(self, out_dir, remap):
        out = []
        for part in ("minhash", "ngram"):
            t = pq.read_table(os.path.join(out_dir, part)).to_pandas()
            t["doc_a"] = remap.base(t["doc_a"].to_numpy())
            t["doc_b"] = remap.base(t["doc_b"].to_numpy())
            out += _pair_rows(part, t)
        return sorted(out)

    def oracle(self, base):
        con = _duckdb(base)
        out = []
        for part, sql in (("minhash", oracles.q_dedup_minhash()),
                          ("ngram", oracles.q_dedup_ngram())):
            out += _pair_rows(part, con.execute(sql).df())
        return sorted(out)


class CurateNeural(Workload):
    """The curation pass and the neural KG build over one corpus, as one
    operation with three outputs."""

    name = "curate_neural"
    parts = (CurateDedup(), KgNeural())

    def build(self, spark, docs, work_dir, sink):
        outs = {}
        for w in self.parts:
            outs.update(w.build(spark, docs, work_dir, sink))
        return outs

    def rows(self, out_dir, remap):
        return sorted(r for w in self.parts for r in w.rows(out_dir, remap))

    def oracle(self, base):
        return sorted(r for w in self.parts for r in w.oracle(base))


def _pair_rows(part: str, t: pd.DataFrame) -> list[tuple]:
    """Near-dup pairs as (part, lo, hi, [n_common, n_lo, n_hi,] jaccard)
    with lo < hi numerically: which side of a pair is doc_a depends on
    the ids, so the per-side set sizes travel with their document."""
    out = []
    for r in t.to_dict("records"):
        a, b = int(r["doc_a"]), int(r["doc_b"])
        sizes = ()
        if "n_a" in r:
            na, nb = (r["n_a"], r["n_b"]) if a < b else (r["n_b"], r["n_a"])
            sizes = (str(int(r["n_common"])), str(int(na)), str(int(nb)))
        out.append((part, str(min(a, b)), str(max(a, b)))
                   + sizes + (repr(float(r["jaccard"])),))
    return out


WORKLOADS = {w.name: w for w in (KgPacked(), KgNeural(), KgRaw(), CurateDedup(),
                                 CurateNeural())}


def _duckdb(base: pd.DataFrame):
    con = duckdb.connect()
    con.register("documents", base)
    return con


def _in_checkout(sql: str) -> str:
    """The oracle SQL with its frozen golden files read from this
    checkout's tests/golden (the package writes an absolute path)."""
    return re.sub(
        r"read_parquet\('[^']*/(tests/golden/[^']+)'\)",
        lambda m: "read_parquet('{}')".format(os.path.join(ROOT, m.group(1))),
        sql,
    )
