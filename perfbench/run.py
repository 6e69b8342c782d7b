#!/usr/bin/env python3
"""KG-construction benchmark for renet2_spark.

One process, one client, one operation at a time (a closed loop) on
``local[<cores>]``. Usage, from the repository root:

    python3 perfbench/run.py --workload kg_raw --seed 1 --seconds 10 --trace 0

``--trace 0`` times ``--seconds / 5`` operations (about ``--seconds``
seconds on a 4-core host) and reports the end-to-end metrics (median
over the run's operations); ``--trace 1``
adds one operation traced per layer and reports the per-layer metrics.
Every operation's written output is checked; the last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
See perfbench/README.md for workloads, metrics and the self-test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected.json")

MEASURED = "sf0.01"  # the timed corpus (data/<scale>/documents.parquet)
WARM = "sf0.001"  # the warm-lap corpus, also the smoke corpus
OP_S = 5.0  # a run times round(--seconds / OP_S) operations

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s",
             "cpu_s": "s", "peak_rss_mb": "MB"}


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        s = f.read()
    start = int(s[s.rindex(")") + 2:].split()[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def host_settings(tmp: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    # an eighth of the host's memory, at most 2 GiB (ample for these
    # corpora): the package's own default (16g) does not fit a 16 GiB
    # host shared with others
    driver_mb = max(1024, min(2048, mem_mb // 8))
    return {
        "master": f"local[{cores}]",
        "cores": cores,
        "host_mem_mb": mem_mb,
        "spark.driver.memory": f"{driver_mb}m",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "java.io.tmpdir": os.path.join(tmp, "jtmp"),
        "TMPDIR": tmp,
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="small corpus, one untraced and one traced "
                        "operation, every metric printed")
    p.add_argument("--corrupt", action="store_true",
                   help="negative check: damage each written output "
                        "before the check, which must then fail")
    p.add_argument("--pin", action="store_true",
                   help="record this traced run's row counts in "
                        "expected.json (run on the parent commit)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "renet2_spark", "__init__.py")):
        print("perfbench: renet2_spark package not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.smoke:
        args.trace = 1
    scale = WARM if args.smoke else MEASURED

    import procstat

    # every path out, a SIGTERM too, stops the JVM and its python
    # workers and waits for them before the run's directory goes
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    procstat.become_subreaper()
    tmp = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        return Bench(args, WORKLOADS[args.workload], scale, tmp).run()
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # finish the clean-up
        stop_jvm()
        left = procstat.stop_tree()
        if left:
            print(f"perfbench: processes {left} would not stop", file=sys.stderr)
        shutil.rmtree(tmp, ignore_errors=True)


def _exit_on_sigterm(_signum, _frame):
    raise SystemExit(128 + signal.SIGTERM)


def stop_jvm(wait_s: float = 30.0) -> None:
    """Stop the Spark session, if any, and end its JVM: close the
    gateway's stdin (pyspark's JVM exits on EOF there) and wait for the
    process; kill it if it has not ended within ``wait_s``."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception as e:
            print(f"perfbench: SparkContext.stop raised {e!r}", file=sys.stderr)
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=wait_s)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()


class Bench:
    def __init__(self, args, wl, scale: str, tmp: str):
        self.args, self.wl, self.scale, self.tmp = args, wl, scale, tmp
        self.settings = host_settings(tmp)
        self.key = f"{wl.name}@{scale}"
        with open(EXPECTED) as f:
            self.expected = json.load(f)
        self.failures: list[str] = []

    # -- set-up ---------------------------------------------------------
    def start_session(self):
        s = self.settings
        for d in (s["spark.local.dir"], s["java.io.tmpdir"]):
            os.makedirs(d, exist_ok=True)
        # every temp file of driver, JVM and workers stays in the run's
        # own directory (SPARK_LOCAL_DIRS would override spark.local.dir)
        os.environ["TMPDIR"] = s["TMPDIR"]
        os.environ["SPARK_LOCAL_DIRS"] = s["spark.local.dir"]
        # every JVM, the spark-submit launcher included: temp files here,
        # no hsperfdata file in the system temp directory
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={s['java.io.tmpdir']} -XX:-UsePerfData")
        t0 = time.perf_counter()
        import __spark_entry__ as entry
        from renet2_spark.session import get_spark

        conf = {
            "spark.driver.memory": s["spark.driver.memory"],
            "spark.local.dir": s["spark.local.dir"],
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            self.event_dir = os.path.join(self.tmp, "events")
            os.makedirs(self.event_dir)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = self.event_dir
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        spark = get_spark(app_name=f"perfbench_{self.wl.name}",
                          master=s["master"], extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        entry._ship_pkg(spark)
        self.session_start_s = t1 - t0
        self.session_ship_s = time.perf_counter() - t1
        return spark

    def make_inputs(self, spark):
        """Write the remapped measured and warm-lap corpora and get the
        oracle rows each output must equal."""
        from inputs import Remap, base_corpus

        self.inputs = {}
        for role, scale, seed in (("measured", self.scale, self.args.seed),
                                  ("warm", WARM, self.args.seed + 7919)):
            base = base_corpus(scale)
            remap = Remap(seed, len(base), self.wl.copies)
            path = os.path.join(self.tmp, f"{role}.parquet")
            self.wl.make_input(spark, base, remap, path)
            self.inputs[role] = (path, remap, self.wl.oracle(base))
        self.n_docs = len(base_corpus(self.scale)) * self.wl.copies

    # -- one operation --------------------------------------------------
    def op(self, spark, i: int, path: str, sink=None):
        from procstat import Meter

        work = os.path.join(self.tmp, "work", str(i))
        out = os.path.join(self.tmp, "out", str(i))
        kw = {} if sink is None else {"sink": sink}
        with Meter() as m:
            df = self.wl.run(spark, path, out, work, **kw)
        return m, df, out, work

    def clean(self, *dirs):
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)

    def check(self, out: str, role: str = "measured") -> bool:
        """Does the written output equal the oracle's rows?"""
        _path, remap, want = self.inputs[role]
        if self.args.corrupt:
            _corrupt(out)
        try:
            got = self.wl.rows(out, remap)
        except Exception as e:  # unreadable or foreign ids
            self.failures.append(f"{role} output unreadable: {e!r}")
            return False
        if not want:
            self.failures.append(f"{role}: the oracle selected no rows")
            return False
        if got != want:
            diff = sorted(set(got) ^ set(want))
            self.failures.append(
                f"{role} output: {len(got)} rows, oracle {len(want)}; "
                f"first differing row {diff[0] if diff else None}")
            return False
        return True

    # -- the run --------------------------------------------------------
    def run(self) -> int:
        args = self.args
        spark = self.start_session()
        t_prep = time.perf_counter()
        self.make_inputs(spark)
        prep_s = time.perf_counter() - t_prep
        measured = self.inputs["measured"][0]
        # warm lap: the same operation on the sf0.001 corpus, so JIT,
        # codegen and python workers are up before timing
        m, _df, out, work = self.op(spark, "warm", self.inputs["warm"][0])
        setup_s = process_age_s() - prep_s
        warm_s = m.wall_s
        self.check(out, "warm")
        self.clean(out, work)
        # steady state: JIT keeps speeding the operation up after the
        # warm lap, so one untimed operation (its output still checked)
        # runs before the timed ones
        t_steady = time.perf_counter()
        if not args.smoke:
            _m, _df, out, work = self.op(spark, "steady", measured)
            self.check(out)
            self.clean(out, work)
        self.steady_s = time.perf_counter() - t_steady
        # a fixed number of timed operations, so that every run's median
        # is taken at the same point of the JIT warm-up
        attempted = 1 if args.smoke else max(1, round(args.seconds / OP_S))
        samples = []
        for i in range(1, attempted + 1):
            try:
                m, _df, out, work = self.op(spark, i, measured)
            except Exception as e:
                self.failures.append(f"operation raised: {e!r}")
                continue
            ok = self.check(out)
            self.clean(out, work)
            samples.append((m, ok, storage(spark)))
            print(f"  op {i}: wall_s={m.wall_s:.3f} cpu_s={m.cpu_s:.2f} "
                  f"(driver {m.cpu['driver']:.2f} jvm {m.cpu['jvm']:.2f} "
                  f"workers {m.cpu['workers']:.2f}) peak_rss_mb={m.peak_rss / 1e6:.0f} "
                  f"(" + " ".join(f"{k} {v / 1e6:.0f}" for k, v in m.peak_by_kind.items())
                  + f") steal={m.steal_frac:.3f} ok={ok}")
        failed = attempted - sum(1 for _m, ok, _s in samples if ok)

        report = {"setup_s": [setup_s]}
        for m, _ok, (cached_mb, cached_rdds) in samples:
            for k, v in (("wall_s", m.wall_s),
                         ("docs_per_s", self.n_docs / m.wall_s),
                         ("cpu_s", m.cpu_s),
                         ("peak_rss_mb", m.peak_rss / 1e6),
                         ("cpu.driver_s", m.cpu["driver"]),
                         ("cpu.jvm_s", m.cpu["jvm"]),
                         ("cpu.workers_s", m.cpu["workers"]),
                         ("host.steal_frac", m.steal_frac),
                         ("host.busy_cores", m.cpu_s / m.wall_s),
                         ("storage.cached_mb_after", cached_mb),
                         ("storage.cached_rdds_after", cached_rdds)):
                report.setdefault(k, []).append(v)
        self.print_header(warm_s, prep_s, attempted, failed)
        print_table(report)

        metrics = {}
        if not args.trace or args.smoke:
            for k, unit in E2E_UNITS.items():
                if k in report:
                    metrics[k] = {"value": statistics.median(report[k]), "unit": unit}
        if args.trace and samples:
            lay, ok = self.traced(spark, report, measured)
            attempted += 1
            failed += 0 if ok else 1
            metrics.update(lay)
        else:
            spark.stop()
        correct = failed == 0 and not self.failures
        for f in self.failures:
            print(f"FAILED: {f}")
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if correct else 1

    def print_header(self, warm_s, prep_s, attempted, failed):
        print(f"perfbench workload={self.wl.name} seed={self.args.seed} "
              f"corpus={self.scale} docs={self.n_docs} "
              f"(x{self.wl.copies} replicas) trace={self.args.trace} "
              f"loop=closed clients=1")
        for k, v in self.settings.items():
            print(f"  setting {k} = {v}")
        print(f"  session.start_s = {self.session_start_s:.3f}  "
              f"session.ship_s = {self.session_ship_s:.3f}  "
              f"warm_lap_s = {warm_s:.3f}  input_prep_s = {prep_s:.3f}")
        print(f"  steady-state operation (untimed): {self.steady_s:.3f} s")
        print(f"  operations attempted = {attempted}  failed = {failed}  "
              f"failed_frac = {failed / max(attempted, 1):.4f}")

    # -- traced operation -------------------------------------------------
    def traced(self, spark, report, measured):
        from spans import Tracer, event_groups

        untraced_wall = statistics.median(report["wall_s"])
        tr = Tracer(spark, f"{self.wl.name}-{self.args.seed}").install()
        try:
            m, df, out, work = self.op(spark, "traced", measured, sink=tr.sink)
            t = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            plan_s = time.perf_counter() - t
            counts = tr.count_outputs()
            counts.update(self.extra_counts(spark))
        finally:
            tr.uninstall()
        ok = self.check(out)
        ckpt = checkpoint_stats(os.path.join(work, "checkpoint"))
        neural_t = (self.neural_payload_timing(tr, counts["neural.pairs_scored"])
                    if "neural.pairs_scored" in counts else None)
        cached_mb, cached_rdds = storage(spark)
        self.clean(out, work)
        spans_dir = os.path.join(ROOT, ".perfbench_tmp", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tr.write_spans(os.path.join(
            spans_dir, f"{self.wl.name}-{self.args.seed}.jsonl"))
        spark.stop()
        groups = event_groups(self.event_dir, self.settings["cores"])

        def g(layer, key, extra=()):
            names = (f"L:{layer}", f"C:{layer}", *extra)
            return sum(groups.get(n, {}).get(key, 0.0) for n in names)

        self_s = tr.self_times()
        c = {k: counts.get(k, 0) for k in COUNT_KEYS}
        builder = tr.span_total("pipeline.build_edges") + tr.span_total(
            "pipeline.build_edges_neural")
        probe_s = tr.span_total("pipeline.probe_corpus_contract_info")
        ckpt_s = tr.span_total("checkpoint.run_stage") + tr.span_total(
            "checkpoint.record_metrics")
        lay = {
            "session.start_s": self.session_start_s,
            "session.ship_s": self.session_ship_s,
            "pipeline.construct_s": max(builder - probe_s - ckpt_s, 0.0),
            "pipeline.plan_s": plan_s,
            "pipeline.probe_s": probe_s,
            "pipeline.probe_calls": tr.calls("pipeline.probe_corpus_contract_info"),
            "pipeline.jobs_before_action": sum(
                v["jobs"] for k, v in groups.items() if k.startswith("L:")),
            "corpus.self_s": self_s.get("corpus", 0.0),
            "corpus.sentences": c["corpus.sentences"],
            "text.self_s": self_s.get("text", 0.0),
            "text.tokens": c["text.tokens"],
            "text.task_s": g("text", "task_s"),
            "tagger.self_s": self_s.get("tagger", 0.0),
            "tagger.mentions": c["tagger.mentions"],
            "tagger.task_s": g("tagger", "task_s"),
            "tagger.idle_core_s": g("tagger", "idle_core_s"),
            "normalize.self_s": self_s.get("normalize", 0.0),
            "checkpoint.write_s": ckpt_s,
            "checkpoint.bytes_written": ckpt[0],
            "checkpoint.buckets_committed": ckpt[1],
            "pairgen.self_s": self_s.get("pairgen", 0.0),
            "pairgen.pairs": c["pairgen.pairs"],
            "pairgen.info_rows": c["pairgen.info_rows"],
            "pairgen.shuffle_write_mb": g("pairgen", "shuffle_write_mb"),
            "pairgen.task_s": g("pairgen", "task_s"),
            "scorer.self_s": self_s.get("scorer", 0.0),
            "scorer.edges": c["scorer.edges"],
            "scorer.vote_pass": c["scorer.edges"] / c["pairgen.pairs"]
            if c["pairgen.pairs"] else 0.0,
            "neural.self_s": self_s.get("neural", 0.0),
            "neural.python_s": m.cpu["workers"] if neural_t else 0.0,
            "neural.pairs_scored": c["neural.pairs_scored"],
            "neural.encode_s": neural_t[0] if neural_t else 0.0,
            "neural.kernel_s": neural_t[1] if neural_t else 0.0,
            "neural.transfer_s": max(m.cpu["workers"] - sum(neural_t), 0.0)
            if neural_t else 0.0,
            "dedup.shingle_s": tr.sink_s.get("shingle", 0.0),
            "dedup.shingles": c["dedup.shingles"],
            "dedup.minhash_s": tr.sink_s.get("minhash", 0.0),
            "dedup.candidates": c["dedup.candidates"],
            "dedup.dups": c["dedup.dups"],
            "dedup.verify_yield": c["dedup.dups"] / c["dedup.candidates"]
            if c["dedup.candidates"] else 0.0,
            "dedup.shingles_capped": max(
                c["dedup.shingles"] - c["dedup.shingles_kept"], 0)
            if c["dedup.shingles_kept"] else 0,
            "dedup.jaccard_s": tr.sink_s.get("ngram", 0.0),
            # the dedup outputs' writes are all dedup work
            "dedup.shuffle_write_mb": g("dedup", "shuffle_write_mb", DEDUP_SINKS),
            "storage.cached_mb_after": cached_mb,
            "storage.cached_rdds_after": cached_rdds,
            "host.steal_frac": statistics.median(report["host.steal_frac"]),
            "host.busy_cores": statistics.median(report["host.busy_cores"]),
            "trace.overhead_s": m.wall_s - untraced_wall,
        }
        self.check_counts(c)
        print("per-layer (one traced operation; counts must repeat exactly):")
        for k, v in lay.items():
            print(f"  {k:32s} {v:.6g} {layer_unit(k)}")
        print("  job groups: " + ", ".join(
            f"{k} task_s={v['task_s']:.2f} jobs={int(v['jobs'])}"
            for k, v in sorted(groups.items())))
        return ({k: {"value": v, "unit": layer_unit(k)} for k, v in lay.items()},
                ok)

    def extra_counts(self, spark) -> dict:
        """Counts read from the dedup operator's cache registry: its
        persisted LSH candidate pairs (columns doc_a, doc_b)."""
        from pyspark.sql import functions as F
        from renet2_spark.operators import dedup as dd

        for df in dd._DEDUP_CACHES:
            if df.columns == ["doc_a", "doc_b"]:
                return {"dedup.candidates": df.select(F.count("*")).first()[0]}
        return {}

    def check_counts(self, counts: dict) -> None:
        entry = self.expected.setdefault(self.key, {})
        if self.args.pin:
            entry["counts"] = counts
            _save_expected(self.expected)
            return
        pinned = entry.get("counts")
        if pinned is None:
            self.failures.append(f"no pinned row counts for {self.key}")
        elif pinned != counts:
            diff = {k: (counts.get(k), v) for k, v in pinned.items()
                    if counts.get(k) != v}
            self.failures.append(f"row counts drifted (got, pinned): {diff}")

    def neural_payload_timing(self, tr, n_pairs: int) -> tuple[float, float] | None:
        """(encode_s, kernel_s) of the neural scorer's python side,
        measured by calling score_batch on a fixed collected payload
        sample (the first SAMPLE_DOCS base documents) on the driver and
        scaled to all scored pairs."""
        import numpy as np
        from pyspark.sql import functions as F
        from renet2_spark.operators import neural

        (pairs, sentences, mentions, *_), _kw = tr.inputs["neural.neural_score_pairs"]
        remap = self.inputs["measured"][1]
        want = [int(x) for x in remap.offset
                + remap.perm[: SAMPLE_DOCS] * remap.copies]
        ids = F.col("doc_id").cast("long").isin(want)
        pdf = (pairs.filter(ids).select("doc_id", "gene_id", "disease_id")
               .join(neural.doc_tensors(sentences.filter(ids), mentions.filter(ids)),
                     "doc_id")
               .orderBy("doc_id", "gene_id", "disease_id").toPandas())
        if not len(pdf):
            return None
        kernel = [0.0]
        orig = neural.forward_all

        def timed(tok, feat):
            t = time.perf_counter()
            try:
                return orig(tok, feat)
            finally:
                kernel[0] += time.perf_counter() - t

        neural.score_batch(pdf.head(8))  # one-time kernel tables, untimed
        neural.forward_all = timed
        try:
            t = time.perf_counter()
            probs = neural.score_batch(pdf)
            total = time.perf_counter() - t
        finally:
            neural.forward_all = orig
        assert np.isfinite(probs).all()
        scale = n_pairs / len(pdf)
        return (total - kernel[0]) * scale, kernel[0] * scale


SAMPLE_DOCS = 64
# the job groups that build the shared shingle cache and write the two
# dedup outputs: their work is dedup work too
DEDUP_SINKS = ("S:shingle", "S:minhash", "S:ngram")
COUNT_KEYS = (
    "corpus.sentences", "text.tokens", "tagger.mentions", "pairgen.pairs",
    "pairgen.info_rows", "scorer.edges", "neural.pairs_scored",
    "dedup.shingles", "dedup.shingles_kept", "dedup.candidates", "dedup.dups",
)


def layer_unit(k: str) -> str:
    if k.endswith("_s"):
        return "s"
    if k.endswith("_mb") or k.endswith("_mb_after"):
        return "MB"
    if k.endswith("bytes_written"):
        return "bytes"
    if k in ("scorer.vote_pass", "dedup.verify_yield", "host.steal_frac"):
        return "ratio"
    if k == "host.busy_cores":
        return "cores"
    return "count"


def storage(spark) -> tuple[float, int]:
    """(MB, RDD count) the session's block manager holds cached."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6, len(infos)


def checkpoint_stats(root: str) -> tuple[int, int]:
    """(bytes under the checkpoint root, COMMITTED lineage rows)."""
    if not os.path.isdir(root):
        return 0, 0
    size = sum(os.path.getsize(os.path.join(d, f))
               for d, _s, fs in os.walk(root) for f in fs)
    committed = 0
    import pyarrow.parquet as pq

    for stage in os.listdir(root):
        lin = os.path.join(root, stage, "lineage")
        if os.path.isdir(lin):
            t = pq.read_table(lin).to_pandas()
            committed += int((t["status"] == "COMMITTED").sum())
    return size, committed


def print_table(report: dict) -> None:
    print(f"  {'metric':20s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'n':>4s}")
    for k, xs in report.items():
        q1, q2, q3 = quartiles(xs)
        print(f"  {k:20s} {q2:12.5f} {q1:12.5f} {q3:12.5f} {len(xs):4d}")


def _corrupt(out: str) -> None:
    """Drop the last row of the first non-empty parquet part file."""
    import pyarrow.parquet as pq

    for d, _s, fs in sorted(os.walk(out)):
        for f in sorted(fs):
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                t = pq.read_table(p)
                if t.num_rows:
                    pq.write_table(t.slice(0, t.num_rows - 1), p)
                    return


def _save_expected(expected: dict) -> None:
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    sys.exit(main())
