"""Per-stage checkpointing with partition lineage + metrics tables.

north_rule: "checkpoints per-partition progress with lineage and
metrics tables so any stage resumes idempotently". The reference's
analogue is the pickle feature cache keyed by build params
(src/renet2/raw_handler.py:117-187) and per-batch result files later
unioned (src/renet2/predict.py:383-443) — single-node, no lineage.

Design (Iceberg in production, parquet dirs here — same layout):

  <root>/<stage>/data/part_key=<k>/...   stage output, partitioned by
                                         a stable input fingerprint
  <root>/<stage>/lineage/                (stage, part_key,
                                         input_fingerprint, status,
                                         rows_out, updated_at)
  <root>/metrics/                        (stage, metric, value)

``run_stage`` is idempotent: a partition whose (part_key,
input_fingerprint) is already COMMITTED in lineage is skipped on
resume; anything else is (re)computed and overwritten atomically via
dynamic partition overwrite. part_key = hash-bucket of doc_id, so the
unit of resume is stable under repartitioning and cluster size.

Job sequence of one ``run_stage`` with work to do (one Spark action
each; AQE may split an action into a few jobs):

  1. input materialisation — the fingerprint job; it fills the
     persisted, part-keyed input, which stays cached for the stage's
     duration so the recomputed subset reads it instead of
     re-running the input's plan (for ``build_edges`` that plan is the
     whole Python splitter/tokenizer/tagger chain);
  2. output materialisation — the per-bucket row counts, which also
     feed the stray-key guard before anything is written;
  3. data write — dynamic partition overwrite of the recomputed
     buckets;
  4. lineage append.

A no-op resume runs job 1 only. Both persists are released on every
path out. Lineage and metrics rows are built on the driver through
``session.local_table`` (Arrow), so the bookkeeping writes run no
Python worker.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_table

LINEAGE_SCHEMA = (
    "stage string, part_key int, input_fingerprint string, status string, "
    "rows_out long, updated_at timestamp"
)


def with_part_key(df: DataFrame, key_col: str = "doc_id", buckets: int = 32) -> DataFrame:
    """Bucket rows by a TYPE-NORMALIZED hash of the key: the key is cast
    to string before hashing so input buckets (often bigint doc_id) and
    output buckets (often string doc_id after pipeline casts) agree —
    xxhash64(7::bigint) != xxhash64('7'), and that mismatch made
    partial resume overwrite committed partitions with rows rebucketed
    elsewhere (round-1 advice, high)."""
    return df.withColumn(
        "part_key",
        F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(buckets)).cast(
            "int"
        ),
    )


def input_fingerprint(df: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """(part_key, input_fingerprint) — order-insensitive digest per
    partition bucket over FULL row content (md5 of the JSON-encoded
    row struct, summed per bucket): changes iff any of the bucket's
    input rows change, including non-key columns (round-1 advice:
    hashing only doc_id served stale output for edited docs)."""
    cols = sorted(c for c in df.columns if c != "part_key")
    h = F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))
    return (
        df.groupBy("part_key")
        .agg(
            F.count("*").alias("n"),
            # xor-fold of row hashes: commutative -> order-insensitive
            F.sum(F.conv(F.substring(h, 1, 15), 16, 10).cast("decimal(38,0)"))
            .cast("string")
            .alias("digest"),
        )
        .select(
            "part_key",
            F.md5(F.concat_ws(":", "n", "digest")).alias("input_fingerprint"),
        )
    )


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self.root, stage, "lineage")

    def _data_path(self, stage: str) -> str:
        return os.path.join(self.root, stage, "data")

    def lineage(self, stage: str) -> DataFrame:
        p = self._lineage_path(stage)
        try:
            return self.spark.read.parquet(p)
        except AnalysisException as e:
            # only "nothing committed yet" reads as empty — no lineage
            # dir, or one holding no data file (a first append killed
            # before its commit leaves just `_temporary/`). A lineage
            # table that exists but cannot be read must raise, not
            # silently turn into "recompute every bucket".
            if e.getCondition() not in (
                "PATH_NOT_FOUND",
                "UNABLE_TO_INFER_SCHEMA",
            ):
                raise
            return local_table(self.spark, [], LINEAGE_SCHEMA)

    def committed(self, stage: str) -> DataFrame:
        """Latest lineage row per part_key, filtered to COMMITTED."""
        from pyspark.sql import Window as W

        lin = self.lineage(stage)
        w = W.partitionBy("part_key").orderBy(F.desc("updated_at"))
        return (
            lin.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("status") == "COMMITTED"))
            .drop("_rn")
        )

    def run_stage(
        self,
        stage: str,
        inp: DataFrame,
        transform,
        key_col: str = "doc_id",
        buckets: int = 32,
    ) -> DataFrame:
        """Compute `transform(inp)` checkpointed per partition bucket;
        resumes past COMMITTED buckets whose input fingerprint is
        unchanged. Returns the stage output DataFrame (reading back
        from the checkpoint so downstream stages see one lineage)."""
        # persisted BEFORE fingerprinting: the fingerprint job (job 1)
        # materialises the input once and the recomputed subset reads
        # that cache — without it the input's plan runs twice
        keyed = with_part_key(inp, key_col, buckets).persist()
        out = None
        try:
            fps = input_fingerprint(keyed, key_col)
            done = self.committed(stage).select(
                "part_key", F.col("input_fingerprint").alias("_done_fp")
            )
            todo_keys = (
                fps.join(done, "part_key", "left")
                .filter(
                    F.col("_done_fp").isNull()
                    | (F.col("_done_fp") != F.col("input_fingerprint"))
                )
                .select("part_key", "input_fingerprint")
            )
            todo = [
                (r["part_key"], r["input_fingerprint"])
                for r in todo_keys.collect()
            ]
            if todo:
                part_keys = [k for k, _ in todo]
                subset = keyed.filter(F.col("part_key").isin(part_keys))
                out = transform(subset.drop("part_key"))
                out = with_part_key(out, key_col, buckets).persist()
                # job 2: ONE pass over the cached output serves both the
                # key-preservation guard and the lineage row counts
                counts = {
                    r["part_key"]: r["n"]
                    for r in out.groupBy("part_key")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
                # guard: a transform that rewrites key values would emit
                # rows bucketed OUTSIDE the recomputed set, and dynamic
                # overwrite would then clobber committed partitions with
                # partial data — fail loudly BEFORE any write
                allowed = set(part_keys)
                stray = sum(n for k, n in counts.items() if k not in allowed)
                if stray:
                    raise ValueError(
                        f"run_stage('{stage}'): transform emitted {stray} "
                        f"rows whose {key_col} hashes outside the recomputed "
                        f"buckets {sorted(part_keys)} — transforms must "
                        f"preserve {key_col} values (per-bucket idempotent "
                        f"resume)"
                    )
                # job 3: atomic per-partition replace (dynamic
                # overwrite). The pre-write repartition clusters each
                # bucket into ONE task: without it every task writes
                # into every bucket dir — tasks x buckets small files
                # (measured 1,024 files, 6.6s; clustered: 32 files, 2.4s
                # at 8 cores). At warehouse scale the small-file
                # explosion is the bigger problem than the extra shuffle
                # (which AQE sizes off the cached output).
                out.repartition("part_key").write.mode(
                    "overwrite"
                ).partitionBy("part_key").parquet(self._data_path(stage))
                # job 4: lineage append; rows built on the driver (Arrow)
                lin_rows = [
                    (stage, int(k), fp, "COMMITTED", int(counts.get(k, 0)))
                    for k, fp in todo
                ]
                local_table(
                    self.spark,
                    lin_rows,
                    "stage string, part_key int, input_fingerprint string, "
                    "status string, rows_out long",
                ).withColumn("updated_at", F.current_timestamp()).write.mode(
                    "append"
                ).parquet(self._lineage_path(stage))
        finally:
            keyed.unpersist()
            if out is not None:
                out.unpersist()
        return self.spark.read.parquet(self._data_path(stage)).drop("part_key")

    def record_metrics(self, stage: str, metrics: dict[str, float]) -> None:
        local_table(
            self.spark,
            [(stage, k, float(v)) for k, v in metrics.items()],
            "stage string, metric string, value double",
        ).withColumn("updated_at", F.current_timestamp()).write.mode(
            "append"
        ).parquet(os.path.join(self.root, "metrics"))

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "metrics"))
