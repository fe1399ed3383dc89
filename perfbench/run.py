"""Benchmark runner: one workload, one seed, one closed-loop caller.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 5 --trace 0

Run from the repository root: the package is imported from the current
directory, and all scratch files live under ``.perfbench_run/`` there
and are removed at exit. The last stdout line is the result JSON; the
line before it carries per-call medians under the workload's own names.
``--trace 1`` adds spans, job and task counters and prints the
per-layer metrics instead of the end-to-end ones. See README.md here.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import ref  # noqa: E402
import selftest  # noqa: E402
import spans  # noqa: E402

CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "2g"
# session set-ups per run; setup_s is their median. The first launches
# the JVM; the median lands on the warm ones, past the JIT's steepest part.
SETUPS = 15

# dedup: 16 minhashes in 8 bands of 2 rows; verified-pair threshold
NUM_HASHES, BANDS = 16, 8
JACCARD_MIN = 0.5

# ANN: index shape and serving parameters
N_CLUSTERS, NPROBE, K = 8, 2, 10
PQ_M, PQ_KSUB, REFINE = 8, 16, 10

# The calls of one pass, in the order they run. Every pass makes each
# call exactly once; pass_s and cpu_s are measured over whole passes.
PASS = {
    "batch": (
        "wordcount",
        "sort",
        "inverted_index",
        "inverted_index.blank_tab",
        "dedup.exact",
        "dedup.near_dup",
        "dedup.delete",
    ),
    "ann_serve": (
        "ivf.build",
        "ivfpq.build",
        "ivf.search",
        "ivfpq.search",
        "ivf.append",
        "ivf.delta_search",
        "ivf.compact",
    ),
}
# The fixed-input probe of read_tab_pairs on whitespace-only lines that
# hold a tab. It fails on every pass while the package counts such lines
# as pairs; its failures are counted in ``failed``. It has no per-layer
# metrics of its own.
PROBE = "inverted_index.blank_tab"
# per-call medians printed on the detail line: name, scale
DETAIL = {
    "wordcount": ("wordcount_s", 1),
    "sort": ("sort_s", 1),
    "inverted_index": ("inverted_index_s", 1),
    "ivf.build": ("ivf_build_s", 1),
    "ivfpq.build": ("ivfpq_build_s", 1),
    "ivf.search": ("ivf_search_ms", 1000),
    "ivfpq.search": ("ivfpq_search_ms", 1000),
    "ivf.append": ("append_ms", 1000),
    "ivf.delta_search": ("delta_search_ms", 1000),
    "ivf.compact": ("compact_ms", 1000),
}


class Ctx:
    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.inputs = os.path.join(root, "inputs")
        self.out = os.path.join(root, "out")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []  # calls that raised; any makes the run incorrect
        self.probe_failure: str | None = None
        self.counters: dict[str, float] = {}

    def session_conf(self) -> dict[str, str]:
        r = self.root
        return {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{r}/local",
            "spark.sql.warehouse.dir": f"{r}/warehouse",
            # no hsperfdata file in /tmp: the run writes only under its root
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Dderby.system.home={r}/derby -Djava.io.tmpdir={r}/tmp",
        }

    def call(self, timer, name: str, build, run, record: bool = True):
        """One call into the package. A call that raises is counted as
        failed (when recorded) and makes the run incorrect; the pass goes
        on and the call's result is None."""
        if record:
            self.attempted += 1
        try:
            return timer.call(name, build, run, record)
        except Exception as e:  # noqa: BLE001 - any error of the package
            if record:
                self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:500])
            return None


def _parts(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path) if f.startswith("part-"))


def _kv_rows(path: str) -> list[list[str]]:
    return [line.split("\t") for line in ref.read_lines(_parts(path)) if line != ""]


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    size = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if not f.startswith((".", "_")):
                size += os.path.getsize(os.path.join(d, f))
                files += 1
    return size, files


class Meter:
    """CPU and GC time of each timed pass, read before and after it."""

    def __init__(self, spark):
        self.spark = spark
        self.proc = spans.ProcTree(spans.jvm_pid(spark))
        self.passes: list[dict[str, float]] = []  # per pass: driver, jvm, workers, gc

    def start(self) -> None:
        self._gc, self._cpu = spans.jvm_gc_s(self.spark), self.proc.cpu()

    def stop(self) -> None:
        d = {k: v - self._cpu[k] for k, v in self.proc.cpu().items()}
        d["gc"] = spans.jvm_gc_s(self.spark) - self._gc
        self.passes.append(d)


def run_passes(ctx: Ctx, workload, timer, meter: Meter, seconds: float) -> float:
    """One untimed warm-up pass, then whole timed passes until
    ``seconds`` have passed (at least one). Returns the warm-up time."""
    t0 = time.perf_counter()
    workload.one_pass(timer, 0, record=False)
    warmup_s = time.perf_counter() - t0
    deadline = time.perf_counter() + seconds
    n = 0
    while True:
        n += 1
        timer.new_pass(f"pass{n}")
        meter.start()
        workload.one_pass(timer, n, record=True)
        meter.stop()
        if time.perf_counter() >= deadline:
            break
    return warmup_s


class Batch:
    """The MapReduce trio, then corpus dedup; the last pass is checked."""

    def __init__(self, ctx: Ctx):
        self.parts = (MrJobs(ctx), Dedup(ctx))

    def one_pass(self, timer, n: int, record: bool) -> None:
        for p in self.parts:
            p.one_pass(timer, n, record)

    def check(self) -> None:
        for p in self.parts:
            p.check()


# ---- MapReduce trio ------------------------------------------------------------

# The probe's fixed input: the reference's inverted-index fixture and one
# malformed line of each kind, tab-only lines among them.
BLANK_TAB_LINES = selftest.PAIRS + selftest.MALFORMED


class MrJobs:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.inp = gen.write_mr_inputs(ctx.args.seed, ctx.inputs)
        self.probe = os.path.join(ctx.inputs, "blank_tab")
        os.makedirs(self.probe)
        with open(os.path.join(self.probe, "part-00.txt"), "w", encoding="utf-8") as f:
            f.write("\n".join(BLANK_TAB_LINES) + "\n")

    def one_pass(self, timer, n: int, record: bool) -> None:
        from pyspark.sql import Observation, functions as F

        from mapreduce_task_spark.operators.inverted_index import inverted_index
        from mapreduce_task_spark.operators.sortops import global_rank
        from mapreduce_task_spark.operators.wordcount import wordcount
        from mapreduce_task_spark.sources.text import read_lines, read_tab_pairs, write_kv_text

        spark, out, call = self.ctx.spark, os.path.join(self.ctx.out, f"pass{n}"), self.ctx.call
        call(
            timer,
            "wordcount",
            lambda: wordcount(read_lines(spark, self.inp["text"]), text_col="value"),
            lambda df: write_kv_text(df, f"{out}/wordcount", "word", "cnt"),
            record,
        )
        call(
            timer,
            "sort",
            lambda: global_rank(read_lines(spark, self.inp["sort"]), "value"),
            lambda df: write_kv_text(df, f"{out}/sort", "rk", "value"),
            record,
        )
        obs = Observation("inverted_index")

        def build():
            idx = inverted_index(read_tab_pairs(spark, self.inp["pairs"], obs))
            return idx.select("word", F.concat_ws("\t", "doc_ids", "n_docs").alias("v"))

        def run(df):
            write_kv_text(df, f"{out}/inverted_index", "word", "v")
            return obs.get["MALFORMED_LINES"]

        self.malformed = call(timer, "inverted_index", build, run, record)
        self.last_out = out

        probe_obs = Observation("blank_tab")
        probe = call(
            timer,
            PROBE,
            lambda: inverted_index(read_tab_pairs(spark, self.probe, probe_obs)),
            lambda df: (
                [(r["word"], r["doc_ids"], int(r["n_docs"])) for r in df.collect()],
                probe_obs.get["MALFORMED_LINES"],
            ),
            record,
        )
        if record and probe is not None:
            try:
                ref.check_inverted_index(probe[0], int(probe[1]), BLANK_TAB_LINES, len(selftest.MALFORMED))
            except ref.CheckFailed as e:
                self.ctx.failed += 1
                self.ctx.probe_failure = str(e)

    def check(self) -> None:
        out = self.last_out
        ref.check_wordcount(
            [(w, int(c)) for w, c in _kv_rows(f"{out}/wordcount")],
            ref.read_lines(_parts(self.inp["text"])),
        )
        ref.check_sort(
            [(int(r), k) for r, k in _kv_rows(f"{out}/sort")],
            ref.read_lines(_parts(self.inp["sort"])),
        )
        ref.check_inverted_index(
            [(w, d, int(n)) for w, d, n in _kv_rows(f"{out}/inverted_index")],
            int(self.malformed),
            ref.read_lines(_parts(self.inp["pairs"])),
            self.inp["malformed"],
        )


# ---- corpus dedup ---------------------------------------------------------------


class Dedup:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.inp = gen.write_dedup_corpus(ctx.args.seed, ctx.inputs)

    def one_pass(self, timer, n: int, record: bool) -> None:
        from pyspark.sql import Observation, functions as F

        from mapreduce_task_spark.operators.dedup import (
            duplicate_delete_list,
            exact_dedup_groups,
            jaccard_verify,
            lsh_bands,
            lsh_candidate_pairs,
            minhash_signature,
            shingles,
        )

        spark, call = self.ctx.spark, self.ctx.call
        docs = spark.read.parquet(self.inp["corpus"])
        reps = exact_dedup_groups(docs).select(F.col("rep_doc_id").alias("doc_id"))
        exact = call(
            timer,
            "dedup.exact",
            lambda: docs.join(reps, "doc_id", "left_anti").select("doc_id"),
            lambda df: [r[0] for r in df.collect()],
            record,
        )
        obs_c, obs_v = Observation("candidates"), Observation("verified")

        def near_dup():
            sh = shingles(docs.join(reps, "doc_id", "left_semi"))
            sig = minhash_signature(sh, num_hashes=NUM_HASHES)
            cands = lsh_candidate_pairs(lsh_bands(sig, num_hashes=NUM_HASHES, bands=BANDS))
            cands = cands.observe(obs_c, F.count(F.lit(1)).alias("n"))
            verified = (
                jaccard_verify(cands, sh)
                .filter(F.col("jaccard") >= JACCARD_MIN)
                .observe(obs_v, F.count(F.lit(1)).alias("n"))
            )
            return duplicate_delete_list(verified.select("id_a", "id_b"))

        delete_list = call(timer, "dedup.near_dup", near_dup, lambda df: df, record)
        near = call(
            timer, "dedup.delete", lambda: delete_list, lambda df: [r[0] for r in df.collect()], record
        )
        self.deleted = (exact or []) + (near or [])
        if near is not None:  # Observation.get waits for an action that has run
            self.ctx.counters["dedup.candidate_pairs"] = obs_c.get["n"]
            self.ctx.counters["dedup.verified_pairs"] = obs_v.get["n"]

    def check(self) -> None:
        self.ctx.counters["dedup.near_dup_recall"] = ref.check_dedup(
            self.deleted,
            self.inp["docs"],
            self.inp["families"],
            JACCARD_MIN,
            NUM_HASHES // BANDS,
            BANDS,
        )


# ---- ann_serve ----------------------------------------------------------------


class AnnServe:
    """A pass is the life of one index pair: build IVF-Flat and IVF-PQ
    from the corpus, answer one query batch on each, append one batch to
    the IVF delta log, answer the batch over base ∪ delta, and compact
    the delta. Each pass works in its own directories.

    The warm-up pass probes every list, where IVF search must be exact,
    and searches once more after compaction, so its answers double as
    the exactness and compaction checks."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.inp = gen.write_ann_inputs(ctx.args.seed, ctx.inputs)
        self.results: dict[str, list] = {"ivf": [], "ivfpq": [], "delta": []}

    def _read(self, path):
        return self.ctx.spark.read.parquet(path)

    @staticmethod
    def _rows(df, score):
        return [tuple(r) for r in df.select("query_id", "cand_id", score, "rank").collect()]

    def one_pass(self, timer, n: int, record: bool) -> None:
        from mapreduce_task_spark.operators.pq import ivfpq_build_index, ivfpq_search_index
        from mapreduce_task_spark.operators.similarity import ivf_build_index, ivf_search_index
        from mapreduce_task_spark.streaming.ivf_ingest import append_batch, compact_delta, search_with_delta

        spark, call, inp = self.ctx.spark, self.ctx.call, self.inp
        ivf, ivfpq = f"{self.ctx.out}/pass{n}/ivf", f"{self.ctx.out}/pass{n}/ivfpq"
        q, q_ids, _ = inp["queries"][n % len(inp["queries"])]
        a, a_ids, _ = inp["appends"][n % len(inp["appends"])]
        nprobe = NPROBE if record else N_CLUSTERS

        call(
            timer,
            "ivf.build",
            lambda: ivf_build_index(self._read(inp["corpus"]), ivf, n_clusters=N_CLUSTERS, dim=gen.DIM),
            _noop,
            record,
        )
        call(
            timer,
            "ivfpq.build",
            lambda: ivfpq_build_index(
                self._read(inp["corpus"]), ivfpq, n_clusters=N_CLUSTERS, m=PQ_M, ksub=PQ_KSUB,
                dim=gen.DIM, pq_rounds=1,
            ),
            _noop,
            record,
        )
        if not record:
            self.ctx.counters["ivf.index_bytes"] = _dir_stats(ivf)[0]
            self.ctx.counters["ivfpq.index_bytes"] = _dir_stats(ivfpq)[0]
        r_ivf = call(
            timer,
            "ivf.search",
            lambda: ivf_search_index(spark, ivf, self._read(q), k=K, nprobe=nprobe),
            lambda df: self._rows(df, "cos"),
            record,
        )
        r_pq = call(
            timer,
            "ivfpq.search",
            lambda: ivfpq_search_index(
                spark, ivfpq, self._read(q), k=K, nprobe=NPROBE, m=PQ_M, dim=gen.DIM, refine=REFINE
            ),
            lambda df: self._rows(df, "exact_d"),
            record,
        )
        call(timer, "ivf.append", lambda: append_batch(self._read(a), 0, ivf), _noop, record)
        if not record:
            self.ctx.counters["ivf.delta.files"] = _dir_stats(f"{ivf}/delta")[1]

        def delta_search():
            return call(
                timer,
                "ivf.delta_search",
                lambda: search_with_delta(spark, ivf, self._read(q), k=K, nprobe=nprobe),
                lambda df: self._rows(df, "cos"),
                record,
            )

        r_delta = delta_search()
        call(timer, "ivf.compact", lambda: compact_delta(spark, ivf, 0), _noop, record)
        if record:
            self.results["ivf"].append((q_ids, r_ivf))
            self.results["ivfpq"].append((q_ids, r_pq))
            self.results["delta"].append((q_ids, a_ids, r_delta))
        else:
            self.warm = {"ivf": r_ivf, "ivfpq": r_pq, "delta": r_delta, "compacted": delta_search()}

    def check(self) -> None:
        inp = self.inp
        c_ids, cv = inp["corpus_ids"], inp["corpus_vecs"]
        qvec = {int(i): v for _, ids, vs in inp["queries"] for i, v in zip(ids, vs)}

        def vecs(ids):
            return np.stack([qvec[int(i)] for i in ids])

        ivf_got, pq_got = {}, {}
        for q_ids, rows in self.results["ivf"]:
            ivf_got.update(ref.check_ivf_served(rows, q_ids, c_ids, K, "ivf search"))
        for q_ids, rows in self.results["ivfpq"]:
            pq_got.update(ref.check_ivfpq(rows, q_ids, vecs(q_ids), c_ids, cv, K))
        for q_ids, a_ids, rows in self.results["delta"]:
            ref.check_ivf_served(rows, q_ids, np.concatenate([c_ids, a_ids]), K, "delta search")
        qs = np.array(sorted(ivf_got), dtype=np.int64)
        self.ctx.counters["ivf.recall_at10"] = ref.recall_at(
            ivf_got, ref.exact_cosine_topk(qs, vecs(qs), c_ids, cv, K), K
        )
        self.ctx.counters["ivfpq.recall_at10"] = ref.recall_at(
            pq_got, ref.exact_l2_topk(qs, vecs(qs), c_ids, cv, K), K
        )

        # warm-up answers: nprobe = every list on the base and on the base
        # plus append batch 0, then the same search after compaction
        w = self.warm
        _, q_ids, qv = inp["queries"][0]
        _, a_ids, av = inp["appends"][0]
        ref.check_ivf_exact(w["ivf"], q_ids, qv, c_ids, cv, K, "ivf search at nprobe=all")
        ref.check_ivfpq(w["ivfpq"], q_ids, qv, c_ids, cv, K)
        ref.check_ivf_exact(
            w["delta"], q_ids, qv, np.concatenate([c_ids, a_ids]), np.concatenate([cv, av]), K,
            "delta search at nprobe=all",
        )
        ref.check_same(w["delta"], w["compacted"], "delta search before/after compact_delta")


def _noop(_):
    return None


WORKLOADS = {"batch": Batch, "ann_serve": AnnServe}


# ---- metrics ------------------------------------------------------------------


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def pass_walls(samples) -> list[float]:
    """Wall time of each timed pass: the sum of its calls' wall times."""
    walls: dict[str, float] = {}
    for s in samples:
        walls[s.pass_id] = walls.get(s.pass_id, 0.0) + s.wall_s
    return list(walls.values())


def per_layer(ctx: Ctx, samples, session: dict, meter: Meter) -> dict[str, tuple[float, str]]:
    """The traced run's per-layer metrics. Every call of every workload
    is listed; calls the workload does not make read 0."""
    m: dict[str, tuple[float, str]] = {}
    for c in (c for calls in PASS.values() for c in calls if c != PROBE):
        ss = [s for s in samples if s.name == c]
        m[f"{c}.build_s"] = (_median([s.build_s for s in ss]), "s")
        m[f"{c}.run_s"] = (_median([s.run_s for s in ss]), "s")
        m[f"{c}.build_jobs"] = (_median([s.build_jobs for s in ss]), "count")
        m[f"{c}.run_jobs"] = (_median([s.run_jobs for s in ss]), "count")
        m[f"{c}.task_s"] = (_median([s.task_s for s in ss]), "s")
        m[f"{c}.parallelism"] = (_median([s.task_s / s.wall_s for s in ss]), "ratio")
        m[f"{c}.shuffle_bytes"] = (_median([s.shuffle_bytes for s in ss]), "bytes")
        m[f"{c}.spill_bytes"] = (_median([s.spill_bytes for s in ss]), "bytes")
    m["session.start_s"] = (session["start_s"], "s")
    m["session.warmup_s"] = (session["warmup_s"], "s")
    m["jvm.gc_s"] = (_median([p["gc"] for p in meter.passes]), "s")
    m["driver.cpu_s"] = (_median([p["driver"] for p in meter.passes]), "s")
    m["jvm.cpu_s"] = (_median([p["jvm"] for p in meter.passes]), "s")
    m["workers.cpu_s"] = (_median([p["workers"] for p in meter.passes]), "s")
    g = ctx.counters.get
    cands, verified = g("dedup.candidate_pairs", 0), g("dedup.verified_pairs", 0)
    m["dedup.candidate_pairs"] = (cands, "count")
    m["dedup.verified_pairs"] = (verified, "count")
    m["dedup.verify_yield"] = (verified / cands if cands else 0.0, "ratio")
    m["dedup.near_dup_recall"] = (g("dedup.near_dup_recall", 0.0), "ratio")
    m["ivf.index_bytes"] = (g("ivf.index_bytes", 0), "bytes")
    m["ivfpq.index_bytes"] = (g("ivfpq.index_bytes", 0), "bytes")
    for c in ("ivf.search", "ivfpq.search"):
        m[f"{c}.rows_scanned"] = (_median([s.input_records for s in samples if s.name == c]), "rows")
    m["ivf.delta.files"] = (g("ivf.delta.files", 0), "count")
    m["ivf.recall_at10"] = (g("ivf.recall_at10", 0.0), "ratio")
    m["ivfpq.recall_at10"] = (g("ivfpq.recall_at10", 0.0), "ratio")
    m["peak_rss_mb"] = (meter.proc.peak_rss_mb(), "MB")
    return m


# ---- main ---------------------------------------------------------------------


def _first_job(spark, path: str) -> None:
    spark.read.text(path).groupBy("value").count().collect()


def _stop(spark) -> None:
    """Stop Spark and the JVM PySpark launched, and wait for it to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def measure(ctx: Ctx) -> dict:
    args = ctx.args
    from mapreduce_task_spark.session import get_spark

    workload = WORKLOADS[args.workload](ctx)
    warm_text = os.path.join(ctx.inputs, "warm.txt")
    with open(warm_text, "w", encoding="utf-8") as f:
        f.write("\n".join(selftest.WORDCOUNT_LINES) + "\n")

    setups = []
    for _ in range(SETUPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.spark = get_spark(f"perfbench-{args.workload}", cpus=CORES, extra_conf=ctx.session_conf())
        _first_job(ctx.spark, warm_text)
        setups.append(time.perf_counter() - t0)
    timer = spans.Tracer(ctx.spark) if args.trace else spans.Timer()
    meter = Meter(ctx.spark)
    warmup_s = run_passes(ctx, workload, timer, meter, args.seconds)
    samples = list(timer.samples)

    why = None
    try:
        workload.check()
    except Exception as e:  # noqa: BLE001 - a check, or a result a failed call left missing
        why = f"{type(e).__name__}: {e}"
    correct = why is None and not ctx.errors

    walls = pass_walls(samples)
    cpus = [p["driver"] + p["jvm"] + p["workers"] for p in meter.passes]
    medians = {c: _median([s.wall_s for s in samples if s.name == c]) for c in PASS[args.workload]}
    detail = {DETAIL[c][0]: medians[c] * DETAIL[c][1] for c in medians if c in DETAIL}
    if args.workload == "batch":
        detail["dedup_s"] = sum(medians[c] for c in medians if c.startswith("dedup."))
    detail.update(
        {
            "passes": len(walls),
            "pass_walls_s": walls,
            "pass_cpu_s": cpus,
            "setups_s": setups,
            "warmup_s": warmup_s,
            "counters": ctx.counters,
            "peak_rss_mb": meter.proc.peak_rss_mb(),
        }
    )
    if ctx.probe_failure:
        detail["probe_failed"] = ctx.probe_failure
    if ctx.errors:
        detail["errors"] = ctx.errors
    if why:
        detail["check_failed"] = why
    if args.trace:
        session = {"start_s": setups[0], "warmup_s": warmup_s}
        metrics = per_layer(ctx, samples, session, meter)
        timer.close(os.path.join(os.getcwd(), ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.json"))
    else:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "pass_s": (_median(walls), "s"),
            "cpu_s": (_median(cpus), "s"),
        }
    return {
        "detail": detail,
        "result": {
            "correct": correct,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(os.getcwd(), "mapreduce_task_spark", "__init__.py")):
        print(f"perfbench: no mapreduce_task_spark package in {os.getcwd()}", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    selftest.run()

    root = os.path.join(os.getcwd(), ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("inputs", "out", "local", "tmp"):
        os.makedirs(os.path.join(root, d))
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    os.environ.pop("SPARK_MASTER", None)
    ctx = Ctx(args, root)
    try:
        res = measure(ctx)
    finally:
        if ctx.spark is not None:
            _stop(ctx.spark)
        shutil.rmtree(root, ignore_errors=True)
    if args.trace:
        import bench  # the repository's CPU canary, recorded beside traced runs

        res["detail"]["cpu_canary"] = bench.cpu_canary()
    print(json.dumps({"detail": res["detail"]}))
    print(json.dumps(res["result"]))
    return 0 if res["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
