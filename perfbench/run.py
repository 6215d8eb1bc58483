"""sparkfts benchmark: the lambda cycle under a cache-resident and a
cache-missing read mix.

    python3 perfbench/run.py --workload lambda_hot --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Prints a report, then as its last line
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: every end-to-end metric of BENCHMARK.json with ``--trace 0``,
every per-layer metric with ``--trace 1``. Inputs come from ``--seed``;
all files go under ``.perfbench/`` in the checkout.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench"
SPARK_MEMORY = "2g"


def steal_snapshot() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def isolate(work: Path) -> None:
    """Keep Spark, the JVM and the Python workers inside ``work``."""
    os.environ["TMPDIR"] = str(work)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"-Djava.io.tmpdir={work} -XX:-UsePerfData")
    os.environ["SPARKFTS_DRIVER_MEM"] = SPARK_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get(
            "PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, str(ROOT))


def descendants(pid: int) -> set[int]:
    """Process ids below ``pid`` (the JVM's Python worker daemons)."""
    parent = {}
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (ValueError, OSError):
            continue
    out, todo = set(), [pid]
    while todo:
        p = todo.pop()
        kids = {c for c, pp in parent.items() if pp == p}
        todo += kids - out
        out |= kids
    return out


def stop_spark(spark) -> None:
    """Stop the session, then wait for the gateway JVM and every process
    it started to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    kids = descendants(proc.pid) if proc is not None else set()
    try:
        spark.stop()
    finally:
        # also when stop() fails, e.g. on a py4j call cut by a signal
        if proc is not None:
            proc.stdin.close()   # the gateway JVM exits when stdin closes
            proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while kids and time.monotonic() < deadline:
            kids = {k for k in kids if os.path.exists(f"/proc/{k}")}
            time.sleep(0.05)


def end_to_end(c) -> dict:
    from stats import median, metric
    v = c.values
    return {
        "setup_s": metric(median(c.series["setup_s"]), "s"),
        "query_p50_ms": metric(median(c.series["query_ms"]), "ms"),
        "qps": metric(v["qps"], "1/s"),
        "build_turns_per_s": metric(
            v["n_turns"] / median(c.series["build.wall_s"]), "turns/s"),
        "index_bytes_per_text_byte": metric(
            v["index_bytes"] / v["text_bytes"], "ratio"),
        "visible_s": metric(median(c.series["visible_s"]), "s"),
        "union_spark_query_p50_ms": metric(
            median(c.series["streaming.union_topk_ms"]), "ms"),
        "spark_query_p50_ms": metric(
            median(c.series["query.topk_ms"]), "ms"),
    }


def per_layer(c, tracer, spark_start_s, steal_pct) -> dict:
    from stats import median, metric, summarize
    s, v = c.series, c.values

    def med(name, unit):
        return metric(median(s[name]), unit)

    def count(name, unit="count"):
        return metric(median(c.counts[name]), unit)

    out = {
        "build.wall_s": med("build.wall_s", "s"),
        "build.assign_docids_s": med("build.assign_docids_s", "s"),
        "build.write_data_s": med("build.write_data_s", "s"),
        "build.term_stats_s": med("build.term_stats_s", "s"),
        "build.spark_jobs": count("build.jobs"),
        "build.spark_tasks": count("build.tasks"),
        "build.docstore_bytes_per_text_byte": metric(
            v["docstore_bytes"] / v["text_bytes"], "ratio"),
        "build.postings_bytes_per_text_byte": metric(
            v["postings_bytes"] / v["text_bytes"], "ratio"),
        "analyzer.tokens_per_s": med("analyzer.tokens_per_s", "tokens/s"),
        "codec.decode_postings_per_s": med(
            "codec.decode_postings_per_s", "postings/s"),
        "codec.bm25_partial_per_s": med(
            "codec.bm25_partial_per_s", "postings/s"),
        "codec.encode_postings_per_s": med(
            "codec.encode_postings_per_s", "postings/s"),
        "query.open_ms": med("query.open_ms", "ms"),
        "query.tail_ms": metric(summarize(s["query_ms"])["tail"], "ms"),
        "query.repeat_p50_ms": med("query.repeat_ms", "ms"),
        "query.first_touch_p50_ms": med("query.first_touch_ms", "ms"),
        "query.cache_resident_share": metric(
            v["cache_resident_share"], "ratio"),
        "query.spark_jobs_per_query": count("query.topk.jobs"),
        "query.spark_tasks_per_query": count("query.topk.tasks"),
        "streaming.batch_index_s": med("streaming.batch_index_s", "s"),
        "streaming.batch_spark_jobs": count("streaming.batch.jobs"),
        "streaming.combined_open_ms": med("streaming.combined_open_ms", "ms"),
        "streaming.first_answer_ms": med("streaming.first_answer_ms", "ms"),
        "streaming.generations": metric(v["generations"], "count"),
        "streaming.union_local_p50_ms": med("streaming.union_local_ms", "ms"),
        "streaming.union_spark_jobs_per_query": count(
            "streaming.union_topk.jobs"),
        "streaming.union_spark_tasks_per_query": count(
            "streaming.union_topk.tasks"),
        "streaming.compact_merge_s": med("streaming.compact_merge_s", "s"),
        "streaming.fold_s": med("streaming.fold_s", "s"),
        "streaming.compact_merge_spark_jobs": count(
            "streaming.compact_merge.jobs"),
        "streaming.fold_bytes_per_text_byte": metric(
            v["fold_bytes"] / v["union_text_bytes"], "ratio"),
        "rotation.swap_ms": med("rotation.swap_ms", "ms"),
        "serving.switch_ms": med("serving.switch_ms", "ms"),
        "spark.start_s": metric(spark_start_s, "s"),
        "spark.warmup_s": metric(v["warmup_s"], "s"),
        "spark.job_floor_ms": med("spark.job_floor_ms", "ms"),
        "workload.distinct_terms": metric(v["distinct_terms"], "count"),
        "workload.postings_per_query": metric(
            v["postings_per_query"], "postings"),
        "workload.working_set_mb": metric(
            v["working_set_bytes"] / 2**20, "MB"),
        "host.steal_pct": metric(steal_pct, "%"),
        "trace.overhead_pct": metric(v["trace.overhead_pct"], "%"),
        "trend.flagged_series": metric(len(flagged(c)), "count"),
    }
    for layer, secs in sorted(tracer.self_seconds().items()):
        out[f"self_s.{layer}"] = metric(secs, "s")
    return out


def flagged(c) -> list[str]:
    from stats import trend
    return [k for k, xs in sorted(c.series.items()) if trend(xs)["flag"]]


def report(c, why, args, spark_start_s, steal_pct) -> None:
    """Human-readable lines: every series with its sample count, the
    workload's properties and the run-quality diagnostics."""
    from cycle import SPARK_WIDTH
    from stats import summarize
    v = c.values
    print(f"# workload {args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace}: {why}")
    print(f"# corpus {v['n_turns']} turns, {v['text_bytes']} text bytes; "
          f"Spark local[{SPARK_WIDTH}], 1 closed-loop client")
    for name, xs in sorted(c.series.items()):
        s = summarize(xs)
        tail = (f" p{s['tail_p']:g}={s['tail']:.4f}" if s["tail_p"] else "")
        raw = (" [" + " ".join(f"{x:.4g}" for x in xs) + "]"
               if len(xs) <= 8 else "")
        print(f"# {name}: n={s['n']} p50={s['p50']:.4f}{tail} "
              f"trend={s['trend']['ratio']:.3f}"
              f"{' RAMPING' if s['trend']['flag'] else ''}{raw}")
    for name, xs in sorted(c.counts.items()):
        print(f"# {name}: {xs}")
    print(f"# workload: distinct_terms={v['distinct_terms']} "
          f"postings_per_query={v['postings_per_query']:.0f} "
          f"working_set_bytes={v['working_set_bytes']:.0f} vs "
          f"TERM_CACHE_CAP={v['term_cache_cap']} entries / "
          f"TERM_CACHE_BYTES={v['term_cache_bytes']} bytes; "
          f"cache_resident_share={v['cache_resident_share']:.3f}")
    print(f"# diagnostics: spark.start_s={spark_start_s:.3f} "
          f"host.steal_pct={steal_pct:.2f} ramping={flagged(c)}")
    print("# phase wall s: " + " ".join(
        f"{k}={x:.2f}" for k, x in c.phases.items()))
    print(f"# attempted={c.attempted} failed={len(c.failures)}")
    for f in c.failures:
        print(f"# FAILED: {f}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds < 1:
        ap.error("--seed must be >= 0 and --seconds >= 1")
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    # a plain SIGTERM would skip the clean-up below and orphan the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = OUT / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    isolate(work)
    steal0 = steal_snapshot()
    spark = None
    try:
        import cycle
        from spans import JobCounter, Tracer
        from stats import check_metrics
        from sparkfts.session import get_spark
        wl = cycle.WORKLOADS.get(args.workload)
        if wl is None:
            ap.error(f"--workload must be one of {sorted(cycle.WORKLOADS)}")
        t = time.perf_counter()
        spark = get_spark(master=f"local[{cycle.SPARK_WIDTH}]",
                          app="perfbench",
                          shuffle_partitions=cycle.SPARK_WIDTH)
        spark_start_s = time.perf_counter() - t
        jobs = JobCounter(spark.sparkContext)
        tracer = Tracer(bool(args.trace), jobs)
        c = cycle.Cycle(spark, wl, args.seed, args.seconds, str(work),
                        tracer, jobs)
        c.run()
        s1 = steal_snapshot()
        steal_pct = 100.0 * (s1[0] - steal0[0]) / max(1, s1[1] - steal0[1])
        if args.trace:
            metrics = per_layer(c, tracer, spark_start_s, steal_pct)
            check_metrics(metrics, declared["per_layer"])
            tracer.write(str(OUT / f"trace-{wl.name}-seed{args.seed}.json"))
        else:
            metrics = end_to_end(c)
            check_metrics(metrics, declared["end_to_end"])
        why = {w["name"]: w["why"] for w in declared["workloads"]}
        report(c, why[wl.name], args, spark_start_s, steal_pct)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not c.failures, "attempted": c.attempted,
                      "failed": len(c.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
