"""Per-layer tracing from outside the package.

A layer is a package module. ``Tracer.install`` replaces each listed
public function (and CheckpointStore method) with a wrapper, both in its
defining module and in every loaded package module that imported the
name, so calls made inside the package are seen too; package files
are never edited. Each wrapper records a span (name, layer, start, end,
parent, run id) in memory and tags the Spark jobs started inside it with
the job group ``L:<layer>``. Spans are written once, at the end.

Spark work is lazy: most layers only build a plan, and their rows are
computed by the final write. After the traced operation, ``count_outputs``
therefore materialises each captured layer output once more (every
column, under job group ``C:<layer>``) to get exact row counts and the
task cost of producing that layer's output from the input. Task
metrics per job group come from the Spark event log (``event_groups``).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import sys
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# layer -> (module, public functions wrapped)
LAYERS = {
    "pipeline": ("renet2_spark.plans.pipeline", [
        "probe_corpus_contract_info", "build_mentions", "build_edges",
        "build_edges_neural", "release_pipeline_caches"]),
    "corpus": ("renet2_spark.corpus", [
        "sentences_direct", "sentence_arrays", "derive_spans",
        "sentences_from_spans"]),
    "text": ("renet2_spark.functions.text", [
        "sentences_from_raw_text", "split_sentences_udf", "tokenize_udf"]),
    "tagger": ("renet2_spark.operators.tagger", [
        "tokenize_sentences", "tag_mentions", "tokenize_raw_sentences",
        "tag_mentions_raw", "tag_mentions_fast", "verify_mentions",
        "mention_offsets"]),
    "normalize": ("renet2_spark.operators.normalize", [
        "canonicalize_mentions", "unify_doc_ids"]),
    "pairgen": ("renet2_spark.operators.pairgen", [
        "edge_relations", "entity_info", "pair_features",
        "sentence_pair_candidates", "doc_pair_candidates"]),
    "scorer": ("renet2_spark.operators.scorer", [
        "score_and_vote", "score_pairs", "ensemble_vote",
        "materialize_edges", "attach_names"]),
    "neural": ("renet2_spark.operators.neural", [
        "neural_score_pairs", "doc_tensors"]),
    "dedup": ("renet2_spark.operators.dedup", [
        "cache_shared_shingles", "doc_shingles", "doc_shingle_arrays",
        "doc_shingle_counts", "df_capped_shingles", "cap_hot_buckets",
        "lsh_band_keys", "dedup_minhash_lsh", "dedup_ngram_jaccard"]),
}
CHECKPOINT_METHODS = ("run_stage", "record_metrics")

# first call of these (outermost in its layer) -> captured output name
CAPTURE = {
    "corpus.sentences_direct": "corpus.sentences",
    "tagger.tokenize_raw_sentences": "text.tokens",
    "tagger.tag_mentions_fast": "tagger.mentions",
    "tagger.tag_mentions_raw": "tagger.mentions",
    "tagger.tag_mentions": "tagger.mentions",
    "pairgen.edge_relations": ("pairgen.pairs", "pairgen.info_rows"),
    "pairgen.entity_info": "pairgen.info_rows",
    "pairgen.pair_features": "pairgen.pairs",
    "scorer.score_and_vote": "scorer.edges",
    "scorer.materialize_edges": "scorer.edges",
    "neural.neural_score_pairs": "neural.pairs_scored",
    "dedup.cache_shared_shingles": "dedup.shingles",
    "dedup.df_capped_shingles": "dedup.shingles_kept",
    "dedup.dedup_minhash_lsh": "dedup.dups",
}
# captured even when called from inside their own layer
NESTED_CAPTURE = {"dedup.df_capped_shingles", "tagger.tokenize_raw_sentences"}


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "run_id")

    def __init__(self, name, layer, start, parent, run_id):
        self.name, self.layer, self.start = name, layer, start
        self.end, self.parent, self.run_id = None, parent, run_id


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.outputs: dict[str, DataFrame] = {}
        self.inputs: dict[str, tuple] = {}
        self.group = "sink"
        self.sink_s: dict[str, float] = {}
        self._undo: list = []

    # -- job groups ---------------------------------------------------
    def set_group(self, group: str) -> None:
        self.group = group
        self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def sink(self, name: str):
        """Jobs inside run under group ``S:<name>``; the time is kept."""
        prev = self.group
        self.set_group(f"S:{name}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.sink_s[name] = self.sink_s.get(name, 0.0) + time.perf_counter() - t0
            self.set_group(prev)

    # -- spans --------------------------------------------------------
    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            parent = tracer.stack[-1] if tracer.stack else None
            outer = parent is None or tracer.spans[parent].layer != layer
            idx = len(tracer.spans)
            tracer.spans.append(
                Span(name, layer, time.perf_counter(), parent, tracer.run_id)
            )
            tracer.stack.append(idx)
            prev = tracer.group
            tracer.set_group(f"L:{layer}")
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.set_group(prev)
                tracer.stack.pop()
                tracer.spans[idx].end = time.perf_counter()
            if name in CAPTURE and (outer or name in NESTED_CAPTURE):
                tracer._capture(CAPTURE[name], out)
            if name == "neural.neural_score_pairs":
                tracer.inputs.setdefault(name, (args, kwargs))
            return out

        return wrapper

    def _capture(self, key, out) -> None:
        if isinstance(key, tuple):
            for k, df in zip(key, out):
                self.outputs.setdefault(k, df)
        elif isinstance(out, DataFrame):
            self.outputs.setdefault(key, out)

    def install(self) -> "Tracer":
        import importlib

        from renet2_spark.sources import checkpoint

        replaced = {}
        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(modname)
            for n in names:
                orig = getattr(mod, n)
                replaced[id(orig)] = (orig, self._wrap(orig, layer, f"{layer}.{n}"))
        # patch the defining modules and every package module that
        # bound the name at import time
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (
                mname.startswith("renet2_spark") or mname == "__spark_entry__"
            ):
                continue
            for attr, val in list(vars(mod).items()):
                hit = replaced.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._undo.append((mod, attr, val))
        cls = checkpoint.CheckpointStore
        for m in CHECKPOINT_METHODS:
            orig = getattr(cls, m)
            setattr(cls, m, self._wrap(orig, "checkpoint", f"checkpoint.{m}"))
            self._undo.append((cls, m, orig))
        return self

    def uninstall(self) -> None:
        while self._undo:
            obj, attr, val = self._undo.pop()
            setattr(obj, attr, val)

    # -- derived numbers ----------------------------------------------
    def self_times(self) -> dict[str, float]:
        """layer -> sum over its spans of (duration - child spans)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child[i]
        return out

    def span_total(self, name: str) -> float:
        """Summed duration of the outermost spans called ``name``."""
        return sum(
            s.end - s.start
            for s in self.spans
            if s.name == name
            and (s.parent is None or self.spans[s.parent].name != name)
        )

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def count_outputs(self) -> dict[str, int]:
        """Exact row count of each captured layer output, computing
        every column (count over a struct of all columns)."""
        counts = {}
        for key, df in self.outputs.items():
            self.set_group(f"C:{key.split('.')[0]}")
            counts[key] = df.select(F.count(F.struct(*df.columns))).first()[0]
        self.set_group("after")
        return counts

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "layer": s.layer, "start": s.start,
                    "end": s.end, "parent": s.parent, "run_id": s.run_id,
                }) + "\n")


def event_groups(log_dir: str, cores: int) -> dict[str, dict[str, float]]:
    """Per job group task metrics from the Spark event log: task_s,
    shuffle_write_mb, jobs, span_s (first job submit .. last job end)
    and idle_core_s (span x cores - task_s)."""
    stage_group, job_group, job_t = {}, {}, {}
    acc: dict[str, dict[str, float]] = {}
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "none")
                    job_group[ev["Job ID"]] = g
                    job_t[ev["Job ID"]] = [ev["Submission Time"], None]
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = g
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in job_t:
                        job_t[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"], "none")
                    a = acc.setdefault(g, _zero())
                    info = ev["Task Info"]
                    sw = (ev.get("Task Metrics") or {}).get(
                        "Shuffle Write Metrics") or {}
                    a["task_s"] += (info["Finish Time"] - info["Launch Time"]) / 1e3
                    a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
    spans: dict[str, list] = {}
    for j, g in job_group.items():
        t0, t1 = job_t[j]
        if t1 is None:
            continue
        lo_hi = spans.setdefault(g, [t0, t1])
        lo_hi[0], lo_hi[1] = min(lo_hi[0], t0), max(lo_hi[1], t1)
        acc.setdefault(g, _zero())["jobs"] += 1
    for g, a in acc.items():
        if g in spans:
            a["span_s"] = (spans[g][1] - spans[g][0]) / 1e3
        a["idle_core_s"] = max(a["span_s"] * cores - a["task_s"], 0.0)
    return acc


def _zero() -> dict[str, float]:
    return dict.fromkeys(
        ("task_s", "shuffle_write_mb", "jobs", "span_s", "idle_core_s"), 0.0
    )
