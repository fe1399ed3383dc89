"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1). The LAST stdout line is the compact
gate JSON the driver parses:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {"wordcount": sec, ...}, "sf": 0.1, "cpu_canary": {...}}

Per-query build/run phases and recall/ablation extras are emitted on a
PRECEDING stdout line ({"detail": ...}) and written to
BENCH_DETAIL.json — they must never ride the gate line, which has to
fit the driver's stdout tail-capture window (round-10 lesson).

Each query is forced end-to-end with the noop sink (full computation,
no driver-side collection). Timings are per-query wall clock.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapreduce_task_spark.registry import all_queries  # noqa: E402
from mapreduce_task_spark.session import get_spark  # noqa: E402


def cpu_canary() -> dict:
    """Machine-speed normalizer recorded alongside every bench pass.

    The container's 32 vCPUs are host-shared: measured aggregate
    throughput has ranged from ~9x to ~30x single-thread across rounds
    (guest loadavg and steal stay near 0 — the contention is invisible
    except through throughput). CPU-saturating queries inflate by
    exactly the throughput deficit, so per-query comparisons are only
    meaningful between passes with similar canary numbers. Fixed
    deterministic workload: zlib level-6 over a 1 MiB repeating buffer,
    single-thread and 32-thread (zlib releases the GIL).
    """
    import zlib
    from concurrent.futures import ThreadPoolExecutor

    data = bytes(range(256)) * 4096

    def work(n: int) -> None:
        for _ in range(n):
            zlib.compress(data, 6)

    t0 = time.perf_counter()
    work(100)
    t1 = time.perf_counter() - t0
    t0 = time.perf_counter()
    with ThreadPoolExecutor(32) as ex:
        list(ex.map(lambda _: work(100), range(32)))
    t32 = time.perf_counter() - t0
    return {
        "single_thread_sec": round(t1, 3),
        "threads32_sec": round(t32, 3),
        "effective_cores": round(32 * t1 / t32, 1) if t32 > 0 else None,
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    only = set(sys.argv[1:])

    spark = get_spark(app_name="mapreduce_task_spark-bench")
    qs = all_queries()

    # untimed warmup: JVM/codegen spin-up, parquet footers, page cache —
    # otherwise the first query absorbs all of it.
    from mapreduce_task_spark.sources.tables import TABLES, load_table

    for name in TABLES:
        try:
            load_table(spark, sf_dir, name).count()
        except Exception:
            pass
    # also warm the codegen/shuffle/noop-sink machinery the first timed
    # query otherwise absorbs (~2 s of JIT on a synthetic plan, not on
    # any benched query's data)
    try:
        from pyspark.sql import functions as _F

        (
            spark.range(200_000)
            .select(
                (_F.col("id") % 97).alias("k"),
                _F.explode(_F.split(_F.lit("a b c"), " ")).alias("w"),
            )
            .groupBy("k", "w")
            .count()
            .orderBy("k")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        # ... and the Python/Arrow worker pool: the first pandas-UDF stage
        # of a session pays worker spawn + Arrow import (~1.5-2 s) that
        # otherwise lands on whichever pandas query runs first
        import pandas as _pd

        def _wu(it):
            for pdf in it:
                yield _pd.DataFrame({"x": pdf["id"]})

        spark.range(0, 3_200, 1, 32).mapInPandas(
            _wu, schema="x long"
        ).write.format("noop").mode("overwrite").save()
    except Exception:
        pass

    from mapreduce_task_spark.queries.llm_dedup import release_persists

    def run_once(name) -> tuple[float, float, float]:
        """One timed pass, split into BUILD (the query builder call —
        py4j column construction, driver-side Catalyst work, and any
        jobs iterative builders run eagerly, e.g. Lloyd/fixpoint
        rounds) and RUN (the noop-sink action: analysis + codegen +
        execution of the final plan). The r9 instrumented breakdowns
        showed the heaviest rows are planning-bound at sf0.1; the
        split makes that visible per-row in every artifact instead of
        being re-derived each round. Returns (total, build, run)."""
        t0 = time.perf_counter()
        df = qs[name].fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        # release any cached intermediates the query build persisted, so
        # the NEXT query never runs with stale storage-memory pressure
        # (the round-2 dedup_embedding_cosine regression)
        release_persists()
        return round(t2 - t0, 3), round(t1 - t0, 3), round(t2 - t1, 3)

    # The container shares cores with a periodic heavy background task;
    # a pass that overlaps one shows a 2-10x spike on whatever queries
    # were executing. Best-of-N per query (consecutive runs, keep min)
    # measures the engine, not the neighbor, and makes round-over-round
    # per-query comparisons reproducible.
    best_of = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    phases: dict[str, dict[str, float]] = {}
    for name in qs:
        if only and name not in only:
            continue
        try:
            total, build, run = min(
                (run_once(name) for _ in range(best_of)), key=lambda t: t[0]
            )
            timings[name] = total
            phases[name] = {"build_sec": build, "run_sec": run}
        except Exception as e:  # a broken query shouldn't kill the bench
            timings[name] = -1.0
            print(f"bench: {name} failed: {type(e).__name__}: {str(e)[:200]}", file=sys.stderr)

    # Canary-gated retry (r11 verdict #4): both r11 artifacts landed in
    # documented slow host phases, with the inflation concentrated in
    # the build_sec of the planning-bound rows (driver-side Catalyst
    # work is single-thread, so it tracks single_thread_sec directly).
    # When the canary says this pass ran slow, re-run the worst
    # build_sec-dominated rows once and keep the per-row min — bounded
    # extra cost (a handful of rows), and the artifact the 2x gate
    # reads stops being hostage to afternoon host contention. Both
    # attempts' canaries are recorded in the gate line.
    canary_pre = cpu_canary()
    retry_info: dict | None = None
    slow_thresh = float(os.environ.get("SPARK_GRAFT_CANARY_SLOW", "0.5"))
    # r13 optimization round: host contention can halve PARALLEL
    # throughput while the single-thread number stays healthy (observed
    # threads32 0.63 -> 1.06 with single_thread 0.474 < the 0.5 gate —
    # that pass's parallel rows inflated ~30% and escaped the retry).
    # The retry now also gates on the 32-thread canary; same bounded
    # worst-6-rows re-run, minima kept, methodology and artifact shape
    # unchanged.
    slow32_thresh = float(os.environ.get("SPARK_GRAFT_CANARY_SLOW32", "1.0"))

    def canary_slow(c: dict) -> bool:
        return (
            c["single_thread_sec"] > slow_thresh
            or c["threads32_sec"] > slow32_thresh
        )

    # r14 (verdict #1a): the retry used to pick the 6 worst rows by
    # ABSOLUTE build_sec, so a cheap row inflated 2-4x by a contended
    # window was never re-run (r13: temporal_joins stood at 4.55 s vs a
    # 1.18 s reference while an already-healthy 4.26 s row got retried).
    # Rows are now selected by ratio against the committed per-row
    # reference of record (BENCH_REF.json, refreshed from the best
    # healthy-canary pass whenever query timings legitimately change);
    # rows absent from the reference (newly added queries) rank as
    # most-suspect. Without a reference file the old build_sec ordering
    # is the fallback. Same bounded 6-row re-run, minima kept,
    # methodology and artifact shape unchanged.
    def load_reference() -> dict[str, float]:
        try:
            ref_path = os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_REF.json"
            )
            with open(ref_path) as f:
                q = json.load(f)["queries"]
            return {k: float(v) for k, v in q.items() if float(v) > 0}
        except Exception:
            return {}

    def retry_worst_rows(trigger_canary: dict, when: str) -> dict:
        """Re-run the 6 most-inflated rows once (ratio vs BENCH_REF.json;
        absolute build_sec when no reference exists), keep the per-row
        min. Returns the retry record for the artifacts."""
        ref = load_reference()
        if ref:
            selection = "ratio_vs_ref"
            # rows absent from the reference all rank at inf; among
            # them (and any other tie) the slower build goes first
            worst = sorted(
                phases,
                key=lambda n: (
                    timings[n] / ref[n] if n in ref else float("inf"),
                    phases[n]["build_sec"],
                ),
                reverse=True,
            )[:6]
        else:
            selection = "build_sec"
            worst = sorted(
                phases, key=lambda n: phases[n]["build_sec"], reverse=True
            )[:6]
        retried: dict[str, float] = {}
        for name in worst:
            try:
                total, build, run = run_once(name)
            except Exception as e:
                print(f"bench: retry {name} failed: {e!r:.200}", file=sys.stderr)
                continue
            retried[name] = total
            if total < timings[name]:
                timings[name] = total
                phases[name] = {"build_sec": build, "run_sec": run}
        return {
            "pre_single_thread_sec": trigger_canary["single_thread_sec"],
            "post_single_thread_sec": cpu_canary()["single_thread_sec"],
            "when": when,
            "selection": selection,
            "retried": retried,
        }

    if not only and canary_slow(canary_pre) and phases:
        retry_info = retry_worst_rows(canary_pre, "pre_extras")

    # Build-once/search-many split (r4 verdict #3): the registry's
    # similarity_ivf measures BUILD+search each run (its oracle covers
    # the build); this measures the amortized deployment shape — index
    # persisted once, then search-only latency against the parquet
    # inverted lists. Not part of the registry total (extras key).
    extras: dict[str, float] = {}
    if not only:
        try:
            import shutil
            import tempfile

            from pyspark.sql import functions as _F

            from mapreduce_task_spark.operators.similarity import (
                ivf_build_index,
                ivf_search_index,
            )

            emb = load_table(spark, sf_dir, "embeddings")
            idx_dir = tempfile.mkdtemp(prefix="bench_ivf_index_")
            t0 = time.perf_counter()
            ivf_build_index(emb, idx_dir, n_clusters=8, dim=64, rounds=2)
            extras["ivf_index_build_sec"] = round(time.perf_counter() - t0, 3)

            queries = emb.filter(_F.col("vec_id") < 10)

            def search_once() -> float:
                t0 = time.perf_counter()
                ivf_search_index(
                    spark, idx_dir, queries, k=5, nprobe=2
                ).write.format("noop").mode("overwrite").save()
                return round(time.perf_counter() - t0, 3)

            extras["ivf_search_only_sec"] = min(
                search_once() for _ in range(best_of)
            )

            # quality beside speed: recall@k of each persisted index
            # against the SAME ground truth its pytest recall gate
            # uses — cosine brute force for IVF (ivf ranks by cosine),
            # exact int64 L2 for IVF-PQ (ADC approximates L2). Each
            # recall is fenced in its own try so a transient failure
            # neither leaks the temp index dir nor kills the unrelated
            # downstream extras.
            from mapreduce_task_spark.operators.similarity import (
                ann_recall,
                brute_force_topk,
            )

            def _macro_recall(exact, approx) -> float:
                row = (
                    ann_recall(exact, approx)
                    .filter(_F.col("query_id") == "MACRO")
                    .collect()
                )
                return round(float(row[0]["recall"]), 3) if row else 0.0

            try:
                exact5 = brute_force_topk(emb, queries.select("vec_id"), k=5)
                # recall/latency frontier (r9 verdict #6): the registry
                # row is one point; the sweep records how recall buys
                # latency as the probe set widens, so nprobe choices are
                # made from the recorded curve, not re-measured ad hoc.
                # The headline nprobe=2 recall is read OFF the sweep —
                # measuring the identical configuration twice buys noise,
                # not information.
                sweep = {}
                for np_ in (1, 2, 4, 8):
                    t0 = time.perf_counter()
                    res = ivf_search_index(spark, idx_dir, queries, k=5, nprobe=np_)
                    res.write.format("noop").mode("overwrite").save()
                    dt = round(time.perf_counter() - t0, 3)
                    # recall from the SAME DataFrame the timing ran —
                    # re-invoking the builder would re-run an identical
                    # sf-scale search per point and let the timed and
                    # measured configurations drift apart silently
                    sweep[str(np_)] = {
                        "recall_at5": _macro_recall(exact5, res),
                        "search_sec": dt,
                    }
                extras["ivf_nprobe_sweep"] = sweep
                extras["ivf_recall_at5"] = sweep["2"]["recall_at5"]
            except Exception as e:
                # a genuine regression must not degrade to a silently
                # missing key — record it in the artifact
                extras["ivf_recall_error"] = repr(e)[:200]
            finally:
                shutil.rmtree(idx_dir, ignore_errors=True)

            # Same split for IVF-PQ (r5 verdict #3): codes-at-rest index
            # built once, then ADC search against the cluster-partitioned
            # inverted lists only.
            from mapreduce_task_spark.operators.pq import (
                ivfpq_build_index,
                ivfpq_search_index,
            )

            pq_dir = tempfile.mkdtemp(prefix="bench_ivfpq_index_")
            t0 = time.perf_counter()
            ivfpq_build_index(
                emb, pq_dir, n_clusters=8, m=8, ksub=16, dim=64,
                coarse_rounds=1, pq_rounds=2,
            )
            extras["ivfpq_index_build_sec"] = round(time.perf_counter() - t0, 3)

            def pq_search_once() -> float:
                t0 = time.perf_counter()
                ivfpq_search_index(
                    spark, pq_dir, queries, k=10, nprobe=2, m=8, dim=64
                ).write.format("noop").mode("overwrite").save()
                return round(time.perf_counter() - t0, 3)

            extras["ivfpq_search_only_sec"] = min(
                pq_search_once() for _ in range(best_of)
            )
            try:
                # exact int64 L2 top-10: brute_force_topk's scaffolding
                # with the ADC metric — squared L2 over the same
                # quantized vectors, ascending, ties to lowest cand_id
                # (the tests/test_pq.py gate convention)
                from pyspark.sql import Window as _W

                from mapreduce_task_spark.operators.similarity import (
                    int_dot,
                    with_quantized,
                )

                qd = with_quantized(emb).select("vec_id", "qv", "nq")
                qb = _F.broadcast(
                    qd.join(queries.select("vec_id"), "vec_id").select(
                        _F.col("vec_id").alias("query_id"),
                        _F.col("qv").alias("qv_q"),
                        _F.col("nq").alias("nq_q"),
                    )
                )
                l2 = (
                    _F.col("nq_q")
                    + _F.col("nq_c")
                    - 2 * int_dot(_F.col("qv_q"), _F.col("qv_c"))
                )
                scored = (
                    qb.crossJoin(
                        qd.select(
                            _F.col("vec_id").alias("cand_id"),
                            _F.col("qv").alias("qv_c"),
                            _F.col("nq").alias("nq_c"),
                        )
                    )
                    .filter(_F.col("cand_id") != _F.col("query_id"))
                    .select("query_id", "cand_id", l2.alias("l2"))
                )
                w10 = _W.partitionBy("query_id").orderBy(
                    _F.asc("l2"), _F.asc("cand_id")
                )
                exact10 = scored.select(
                    "*", _F.row_number().over(w10).alias("rank")
                ).filter(_F.col("rank") <= 10)
                extras["ivfpq_recall_at10"] = _macro_recall(
                    exact10,
                    ivfpq_search_index(
                        spark, pq_dir, queries, k=10, nprobe=2, m=8, dim=64
                    ),
                )
                # r10: the exact-rerank refine stage (ADC shortlist of
                # refine*k, exact int64 L2 on the index's persisted
                # vectors) — recall AND latency recorded beside the
                # pure-ADC point via the nprobe frontier sweep; the
                # headline refined numbers are the sweep's nprobe=2
                # entry (one measurement per configuration).
                sweep = {}
                for np_ in (1, 2, 4, 8):
                    t0 = time.perf_counter()
                    res = ivfpq_search_index(
                        spark, pq_dir, queries, k=10, nprobe=np_, m=8,
                        dim=64, refine=10,
                    )
                    res.write.format("noop").mode("overwrite").save()
                    dt = round(time.perf_counter() - t0, 3)
                    sweep[str(np_)] = {
                        "recall_at10": _macro_recall(exact10, res),
                        "search_sec": dt,
                    }
                extras["ivfpq_refined_nprobe_sweep"] = sweep
                extras["ivfpq_search_refined_sec"] = sweep["2"]["search_sec"]
                extras["ivfpq_recall_at10_refined"] = sweep["2"]["recall_at10"]
                # ceiling point: all lists probed, 5*10*k shortlist —
                # shows the compressed index's knobs reach near-exact
                # recall (the residual loss is shortlist truncation,
                # recoverable with refine; probe coverage is already 1)
                t0 = time.perf_counter()
                hi = ivfpq_search_index(
                    spark, pq_dir, queries, k=10, nprobe=8, m=8, dim=64,
                    refine=50,
                )
                hi.write.format("noop").mode("overwrite").save()
                # timing captured BEFORE the recall pass (its second
                # search would otherwise inflate search_sec ~2x and
                # break comparability with the sweep entries)
                hi_sec = round(time.perf_counter() - t0, 3)
                extras["ivfpq_refine_ceiling"] = {
                    "nprobe": 8,
                    "refine": 50,
                    "search_sec": hi_sec,
                    "recall_at10": _macro_recall(exact10, hi),
                }
                # r10: filtered search (IDSelector-style allow-list
                # pre-filter) — latency of the refined search
                # restricted to half the corpus; the semi-join must
                # not cost more than the unfiltered refined point
                # (DPP on both scans is plan-asserted in tests)
                allow = emb.select("vec_id").filter(
                    _F.col("vec_id") % 2 == 0
                )
                t0 = time.perf_counter()
                fres = ivfpq_search_index(
                    spark, pq_dir, queries, k=10, nprobe=2, m=8, dim=64,
                    refine=10, filter_ids=allow,
                )
                fres.write.format("noop").mode("overwrite").save()
                extras["ivfpq_filtered_search_sec"] = round(
                    time.perf_counter() - t0, 3
                )
            except Exception as e:
                extras["ivfpq_recall_error"] = repr(e)[:200]
            finally:
                shutil.rmtree(pq_dir, ignore_errors=True)

            # r11: the cosine metric path at sf scale — build a cosine
            # IVF-PQ index (unit-grid normalized corpus), one refined
            # search point, recall judged against the TRUE cosine
            # brute-force ranking (the metric users bring), so the
            # normalize-then-L2 equivalence is a recorded number here,
            # not just a pytest gate at fixture scale.
            cos_dir = tempfile.mkdtemp(prefix="bench_ivfpq_cos_index_")
            try:
                t0 = time.perf_counter()
                ivfpq_build_index(
                    emb, cos_dir, n_clusters=8, m=8, ksub=16, dim=64,
                    coarse_rounds=1, pq_rounds=2, metric="cosine",
                )
                extras["ivfpq_cosine_build_sec"] = round(
                    time.perf_counter() - t0, 3
                )
                exact_cos10 = brute_force_topk(
                    emb, queries.select("vec_id"), k=10
                )
                t0 = time.perf_counter()
                cres = ivfpq_search_index(
                    spark, cos_dir, queries, k=10, nprobe=2, m=8, dim=64,
                    refine=10, metric="cosine",
                )
                cres.write.format("noop").mode("overwrite").save()
                extras["ivfpq_cosine_search_sec"] = round(
                    time.perf_counter() - t0, 3
                )
                extras["ivfpq_cosine_recall_at10"] = _macro_recall(
                    exact_cos10, cres
                )
            except Exception as e:
                extras["ivfpq_cosine_recall_error"] = repr(e)[:200]
            finally:
                shutil.rmtree(cos_dir, ignore_errors=True)

            # r11: SQ8, the middle compression/recall point — build,
            # one refined search, recall vs exact L2 (the same ground
            # truth the IVF-PQ numbers use), so the flat/SQ/PQ frontier
            # is three recorded points per pass.
            from mapreduce_task_spark.operators.sq import (
                sq_build_index,
                sq_search_index,
            )

            sq_dir = tempfile.mkdtemp(prefix="bench_sq_index_")
            try:
                t0 = time.perf_counter()
                sq_build_index(emb, sq_dir, dim=64)
                extras["sq_index_build_sec"] = round(time.perf_counter() - t0, 3)
                t0 = time.perf_counter()
                sres = sq_search_index(spark, sq_dir, queries, k=10, dim=64)
                sres.write.format("noop").mode("overwrite").save()
                extras["sq_search_only_sec"] = round(time.perf_counter() - t0, 3)
                extras["sq_recall_at10"] = _macro_recall(exact10, sres)
            except Exception as e:
                extras["sq_recall_error"] = repr(e)[:200]
            finally:
                shutil.rmtree(sq_dir, ignore_errors=True)

            # r12: IVF-SQ — the probe-bounded compressed search (SQ8
            # codes inside the coarse quantizer's inverted lists). The
            # nprobe sweep records how SQ's per-dimension resolution
            # holds up under probe-bounded scans, beside IVF-PQ's sweep
            # at the same nprobe points (same exact-L2 ground truth).
            from mapreduce_task_spark.operators.sq import (
                ivfsq_build_index,
                ivfsq_search_index,
            )

            ivfsq_dir = tempfile.mkdtemp(prefix="bench_ivfsq_index_")
            try:
                t0 = time.perf_counter()
                ivfsq_build_index(emb, ivfsq_dir, n_clusters=8, dim=64, rounds=2)
                extras["ivfsq_index_build_sec"] = round(
                    time.perf_counter() - t0, 3
                )
                sweep = {}
                for np_ in (1, 2, 4, 8):
                    t0 = time.perf_counter()
                    res = ivfsq_search_index(
                        spark, ivfsq_dir, queries, k=10, dim=64,
                        nprobe=np_, refine=3,
                    )
                    res.write.format("noop").mode("overwrite").save()
                    dt = round(time.perf_counter() - t0, 3)
                    sweep[str(np_)] = {
                        "recall_at10": _macro_recall(exact10, res),
                        "search_sec": dt,
                    }
                extras["ivfsq_refined_nprobe_sweep"] = sweep
                extras["ivfsq_search_refined_sec"] = sweep["2"]["search_sec"]
                extras["ivfsq_recall_at10_refined"] = sweep["2"]["recall_at10"]
            except Exception as e:
                extras["ivfsq_recall_error"] = repr(e)[:200]
            finally:
                shutil.rmtree(ivfsq_dir, ignore_errors=True)

            # r13: the triggered-retrain orchestration at sf scale —
            # versioned root, one delta append, full rebuild from
            # base ∪ delta with fresh quantizers + baseline + promote.
            # Records the offline maintenance cost the crawl loop's
            # retrain trigger schedules (amortized over many appends).
            try:
                from pyspark.sql import functions as _F

                from mapreduce_task_spark.streaming.ivf_ingest import (
                    append_batch as _ivf_append,
                )
                from mapreduce_task_spark.streaming.ivf_ingest import (
                    drift_baseline as _ivf_baseline,
                )
                from mapreduce_task_spark.streaming.retrain import (
                    current_index_path,
                    promote_version,
                    retrain_index,
                )

                rt_root = tempfile.mkdtemp(prefix="bench_retrain_root_")
                half = emb.agg(_F.expr("percentile(vec_id, 0.5)")).collect()[0][0]
                base_half = emb.filter(_F.col("vec_id") <= half)
                delta_half = emb.filter(_F.col("vec_id") > half)
                ivf_build_index(
                    base_half, f"{rt_root}/v1", n_clusters=8, dim=64, rounds=2
                )
                _ivf_baseline(spark, f"{rt_root}/v1")
                promote_version(spark, rt_root, "v1")
                _ivf_append(delta_half, 0, current_index_path(spark, rt_root))
                t0 = time.perf_counter()
                retrain_index(spark, rt_root)
                extras["ivf_retrain_sec"] = round(time.perf_counter() - t0, 3)
                shutil.rmtree(rt_root, ignore_errors=True)
            except Exception as e:
                extras["ivf_retrain_error"] = repr(e)[:200]

            # Same split for lexical retrieval (r8): BM25 postings
            # persisted once, then term-pushdown search against the
            # term-clustered lists only (the corpus is never re-read).
            from mapreduce_task_spark.operators.ranking import (
                bm25_build_index,
                bm25_search_index,
            )

            bm_dir = tempfile.mkdtemp(prefix="bench_bm25_index_")
            docs = load_table(spark, sf_dir, "documents")
            t0 = time.perf_counter()
            bm25_build_index(docs, spark, bm_dir)
            extras["bm25_index_build_sec"] = round(time.perf_counter() - t0, 3)

            def bm25_search_once() -> float:
                t0 = time.perf_counter()
                bm25_search_index(
                    spark, bm_dir, ["spark", "join", "query"], k=50
                ).write.format("noop").mode("overwrite").save()
                return round(time.perf_counter() - t0, 3)

            extras["bm25_search_only_sec"] = min(
                bm25_search_once() for _ in range(best_of)
            )
            shutil.rmtree(bm_dir, ignore_errors=True)

            # Learned quality classifier (r8): the documented scale
            # shape — train on a SAMPLE (weak labels: garbage twins of
            # 5k real docs), then map-only scoring over the FULL
            # corpus scan. Scoring throughput is the number that
            # matters at 100 TB; training amortizes.
            from mapreduce_task_spark.operators.quality_model import (
                score_quality,
                train_quality_model,
            )

            # orderBy before limit: an unordered limit is evaluated
            # independently in the two branches of the labeled union
            # below (garbage twins derive from `good`), so it must be
            # deterministic or the training sample — and the
            # quality_train/score figures — drift across runs
            good = docs.select("doc_id", "text").where(
                _F.col("text").isNotNull()
            ).orderBy("doc_id").limit(2500)
            garbage = good.select(
                (_F.col("doc_id") + 10_000_000).alias("doc_id"),
                _F.concat_ws(
                    " ",
                    _F.transform(
                        _F.sequence(_F.lit(1), _F.lit(40)),
                        lambda i: _F.concat(
                            _F.lit("zq"),
                            _F.substring(
                                _F.md5(
                                    _F.concat(
                                        _F.col("doc_id").cast("string"),
                                        _F.lit(":"),
                                        i.cast("string"),
                                    )
                                ),
                                1,
                                6,
                            ),
                        ),
                    ),
                ).alias("text"),
            )
            labeled = good.withColumn("label", _F.lit(1.0)).unionByName(
                garbage.withColumn("label", _F.lit(0.0))
            )
            t0 = time.perf_counter()
            # 10 LBFGS iters: the garbage twin separates in far fewer,
            # and per-iteration cost (what scales) is what's measured
            qmodel = train_quality_model(labeled, dims_log2=16, max_iter=10)
            extras["quality_train_sec"] = round(time.perf_counter() - t0, 3)

            def score_once() -> float:
                t0 = time.perf_counter()
                score_quality(qmodel, docs.select("doc_id", "text")).write.format(
                    "noop"
                ).mode("overwrite").save()
                return round(time.perf_counter() - t0, 3)

            extras["quality_score_sec"] = min(
                score_once() for _ in range(best_of)
            )
        except Exception as e:
            print(f"bench: ivf split extra failed: {e!r:.200}", file=sys.stderr)

    # Close the post-extras hole (r12 verdict #1): a pass that degrades
    # DURING the ~5-minute extras window escaped the pre-extras gate —
    # re-measure the canary after extras and retry the planning-bound
    # rows if THIS measurement is slow and no retry ran yet. The final
    # recorded canary is taken after any retry, so the artifact's
    # headline canary describes the numbers that stand.
    canary_post = cpu_canary()
    if (
        not only
        and retry_info is None
        and canary_slow(canary_post)
        and phases
    ):
        retry_info = retry_worst_rows(canary_post, "post_extras")

    ok = {k: v for k, v in timings.items() if v >= 0}
    canary = cpu_canary() if retry_info is not None else canary_post
    # Per-query build/run phases and the recall/ablation extras are
    # valuable but bulky; they outgrew the driver's stdout tail-capture
    # window in round 10 (BENCH_r10.json recorded parsed:null). They go
    # to a side file AND a *preceding* stdout line; the compact gate
    # object the driver parses is the LAST stdout line, kept small.
    detail = {
        "phases": phases,
        "extras": extras,
        "cpu_canary": canary,
        "canary_retry": retry_info,
    }
    try:
        detail_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
        )
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    except OSError as e:
        print(f"bench: could not write BENCH_DETAIL.json: {e!r}", file=sys.stderr)
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "metric": "total_query_sec",
                "value": round(sum(ok.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpu_canary": canary,
                # both attempts' canaries when the slow-phase retry ran
                # (~110 bytes; the retried row list lives in the detail).
                # Explicit null otherwise — the gate line and
                # BENCH_DETAIL now record the same shape (r12 verdict's
                # cosmetic asymmetry).
                "canary_retry": (
                    {
                        "pre": retry_info["pre_single_thread_sec"],
                        "post": retry_info["post_single_thread_sec"],
                        "when": retry_info["when"],
                        "n_retried": len(retry_info["retried"]),
                    }
                    if retry_info
                    else None
                ),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
