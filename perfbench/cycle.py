"""One run of the lambda cycle, measured from outside through the public
functions of the sparkfts modules.

Schedule (one client thread, each call issued after the previous returns):

1. one untimed build of a tiny corpus, so that JVM code generation and
   Python worker start-up land outside the measurements; then, ``SETUPS``
   times, the set-up: write the nightly corpus, ``build_index`` it from a
   bare local parquet scan to a fresh root, register → COMPLETE → swap it
   in the ``RotationRegistry`` and take the first ``ServingIndex`` answer;
2. the serving loop: closed-loop ``FTSIndex.topk_local`` on the handle the
   ``ServingIndex`` serves (the nightly root), after a warm-up pass. It
   runs in ``SERVE_SEGMENTS`` equal segments: here and after steps 3, 4
   and 6;
3. Spark-job reads through ``FTSIndex.topk_pandas`` (``topk``'s one-stage
   fan-out, answered as pandas) on the nightly root;
4. ``DELTA_BATCHES`` micro-batches through the ``make_batch_indexer``
   callback, after ``WARM_BATCHES`` untimed ones, each on its own copy of
   the nightly root (so every batch meets the same generation count) and
   each followed by a freshly opened ``CombinedIndex`` answer. The last
   copy, base + one delta, is the union the next steps read;
5. traced runs only: closed-loop ``CombinedIndex.topk_local`` reads,
   after a warm-up pass (they feed a per-layer metric alone);
6. Spark-job reads through ``CombinedIndex.topk``, after a warm-up ramp;
7. traced runs only: a ``compact_merge`` fold, registered, swapped in and
   answered through the ``ServingIndex``. At ~9 s it is the costliest
   step, and the run budget leaves no room for it in every run. Steps 5
   and 7 feed per-layer metrics only, so untraced runs skip them.

The two workloads run the same schedule and differ only in the words
their queries are drawn from (see ``WORKLOADS``). The Spark-job reads
cycle through ``SPARK_SHAPES``, so every seed times the same query
shapes. Answers are checked after the schedule, outside every timed
region.
"""
from __future__ import annotations

import os
import shutil
import time
from collections import OrderedDict
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from sparkfts import (BuildConfig, CombinedIndex, FTSIndex, IndexVersion,
                      RotationRegistry, ServingIndex, build_index,
                      make_batch_indexer, storage)
from sparkfts.analyzer import tokenize_arrow, tokenize_text
from sparkfts.codec import bm25_partial, decode_postings, encode_postings_batch
from sparkfts.fixtures import vocabulary, write_transcripts_parquet
from sparkfts.oracle import BM25Oracle
from sparkfts.streaming import compact_merge, read_delta_log

import checks
from stats import median

SPARK_WIDTH = 4            # local[N]
NUM_SHARDS = 4
CORPUS_CONVS = 1_000       # nightly corpus: ~20k turns, ~6.4 MB of text
DELTA_BATCHES = 3
WARM_BATCHES = 1           # the first micro-batch pays one-off code paths
DELTA_CONVS = 80           # per micro-batch: ~1.6k turns
WARMUP_CONVS = 20         # JIT warm-up build before the set-ups
SETUPS = 3
UNION_SPARK_WARM, UNION_SPARK_READS = 2, 4
SPARK_WARM, SPARK_READS = 1, 4
# (words, mode) of the Spark-job reads in turn: OR:AND = 3:1, 1-3 words
SPARK_SHAPES = ((1, "or"), (2, "or"), (3, "or"), (2, "and"))
K = 10
AND_SHARE = 0.25           # OR:AND = 3:1
ORACLE_SAMPLES = 3         # answers per read surface checked by the oracle
SERVE_SEGMENTS = 4         # serving-loop segments, spread over the run
CODEC_TERMS = 128          # distinct query terms fed to the codec probes
ALIAS = "transcripts"
ORDER = ["conv_id", "turn_idx"]
CFG = BuildConfig(num_shards=NUM_SHARDS, partitions=SPARK_WIDTH)


@dataclass(frozen=True)
class Workload:
    name: str
    pool: int          # queries draw words from the `pool` most frequent
    serve_per_s: int   # serving-loop queries per second of --seconds
    union_local: int   # CombinedIndex.topk_local queries
    warm: int          # single-word warm-up queries per handle


WORKLOADS = {w.name: w for w in (
    # the 64 most frequent words: the serving working set fits
    # FTSIndex's term caches, so reads spend their time in BM25 scoring
    Workload("lambda_hot", 64, 300, 40, 64),
    # all 2,000 words: ~8x the 256-term cache, so nearly every read pays
    # the dictionary read and the varint decode
    Workload("lambda_cold", 2000, 32, 20, 16),
)}


def query_stream(seed: int, wl: Workload, n: int, stream: int,
                 shapes=None):
    """n (query, mode) pairs of 1-3 distinct words from the workload's
    pool; the same (seed, stream) always gives the same queries. With
    ``shapes``, query i has the word count and mode of shapes[i % len]."""
    rng = np.random.default_rng([seed, stream])
    words = vocabulary()[:wl.pool]
    out = []
    for i in range(n):
        size = int(rng.integers(1, 4))
        mode = "and" if rng.random() < AND_SHARE else "or"
        if shapes:
            size, mode = shapes[i % len(shapes)]
        terms = rng.choice(words, size=size, replace=False)
        out.append((" ".join(terms), mode))
    return out


def warmup_queries(seed: int, wl: Workload):
    """One single-word OR query per word of a seeded draw of ``wl.warm``
    words of the pool: every head word on the hot workload."""
    rng = np.random.default_rng([seed, 0])
    words = rng.permutation(vocabulary()[:wl.pool])[:wl.warm]
    return [(str(w), "or") for w in words]


class Recency:
    """The last ``cap`` distinct analyzed terms issued to one handle —
    the largest set FTSIndex's per-handle LRU can hold."""

    def __init__(self, cap: int):
        self.cap = cap
        self.terms: OrderedDict[str, None] = OrderedDict()

    def touch(self, terms) -> bool:
        resident = all(t in self.terms for t in terms)
        for t in terms:
            self.terms[t] = None
            self.terms.move_to_end(t)
        while len(self.terms) > self.cap:
            self.terms.popitem(last=False)
        return resident


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def text_bytes(tbl) -> int:
    return int(pc.sum(pc.binary_length(tbl.column("text"))).as_py() or 0)


class Cycle:
    def __init__(self, spark, wl: Workload, seed: int, seconds: int,
                 work: str, tracer, jobs):
        self.spark, self.wl, self.seed = spark, wl, seed
        self.seconds, self.work = seconds, work
        self.tracer, self.jobs = tracer, jobs
        self.series: dict[str, list[float]] = {}
        self.values: dict[str, float] = {}
        self.counts: dict[str, list[int]] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.phases: dict[str, float] = {}
        self._phase = None
        self.registry = RotationRegistry(work)
        self.serving = ServingIndex(spark, self.registry, ALIAS)

    # -- bookkeeping ---------------------------------------------------
    def add(self, name: str, value: float) -> None:
        self.series.setdefault(name, []).append(value)

    def add_counts(self, name: str, box) -> None:
        if box is not None and "jobs" in box:
            for key in ("jobs", "stages", "tasks"):
                self.counts.setdefault(f"{name}.{key}", []).append(
                    box[key])

    def phase(self, name: str | None) -> None:
        """Close the previous schedule step's wall-time entry."""
        now = time.perf_counter()
        if self._phase is not None:
            self.phases[self._phase[0]] = now - self._phase[1]
        self._phase = (name, now) if name else None

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    # -- layers ----------------------------------------------------------
    def job_floor(self, n: int = 5) -> None:
        for _ in range(n):
            t = time.perf_counter()
            self.spark.range(1, numPartitions=1).count()
            self.add("spark.job_floor_ms", (time.perf_counter() - t) * 1e3)

    def rotate(self, root: str, summary: dict, op, probe):
        """register → COMPLETE → swap, then the first ServingIndex answer
        on the swapped-in root."""
        sp = self.tracer.span
        with sp("rotation.swap", "rotation", op):
            t = time.perf_counter()
            vid = self.registry.register(IndexVersion(
                alias=ALIAS, root=root, index_date="2026-01-01",
                registered_at="2026-01-01T00:00:00+00:00",
                num_shards=int(summary["num_shards"]),
                build_id=summary["build_id"], state="RUNNING"))
            self.registry.mark_state(vid, "COMPLETE")
            self.registry.swap(ALIAS, vid)
            t1 = time.perf_counter()
        with sp("serving.first_answer", "serving", op):
            self.serving.topk_local(probe[0], k=K, mode=probe[1])
            t2 = time.perf_counter()
        if self.serving.current_root != root:
            self.fail(f"serving did not switch to {root}")
        self.add("rotation.swap_ms", (t1 - t) * 1e3)
        self.add("serving.switch_ms", (t2 - t1) * 1e3)

    def warmup(self) -> None:
        src, root = self.path("warmup.parquet"), self.path("warmup")
        write_transcripts_parquet(src, WARMUP_CONVS, self.seed)
        t = time.perf_counter()
        build_index(self.spark, self.spark.read.parquet(src), root,
                    order_cols=ORDER, cfg=CFG)
        self.values["warmup_s"] = time.perf_counter() - t
        shutil.rmtree(root)
        os.remove(src)

    def setup(self, i: int, probe) -> dict:
        """One set-up: corpus, nightly build, rotation, first answer."""
        sp = self.tracer.span
        op = self.tracer.new_op()
        src, root = self.path(f"nightly{i}.parquet"), self.path(f"nightly{i}")
        t0 = time.perf_counter()
        with sp("setup", "bench", op):
            with sp("fixtures.write_transcripts_parquet", "fixtures", op):
                n_turns = write_transcripts_parquet(src, CORPUS_CONVS,
                                                    self.seed)
            with sp("build.build_index", "build", op,
                    count_jobs=True) as box:
                tb = time.perf_counter()
                summary = build_index(self.spark, self.spark.read.parquet(src),
                                      root, order_cols=ORDER, cfg=CFG)
                build_wall = time.perf_counter() - tb
            self.rotate(root, summary, op, probe)
        self.add("setup_s", time.perf_counter() - t0)
        self.add_counts("build", box)
        self.add("build.wall_s", build_wall)
        for phase in ("assign_docids", "write_data", "term_stats"):
            self.add(f"build.{phase}_s", float(summary["phases"][phase]))
        return {"src": src, "root": root, "n_turns": n_turns}

    def micro_batch(self, b: int, path: str, record: bool):
        """Micro-batch ``b`` on a fresh copy of the nightly root; returns
        the CombinedIndex that first answered it."""
        sp = self.tracer.span
        op = self.tracer.new_op()
        root = self.path(f"lambda{b}")
        shutil.copytree(self.root, root)
        indexer = make_batch_indexer(root)
        df = self.spark.read.parquet(path)
        with sp("lambda.batch", "bench", op):
            t0 = time.perf_counter()
            with sp("streaming.batch_indexer", "streaming", op,
                    count_jobs=True) as box:
                indexer(df, b)
            t1 = time.perf_counter()
            with sp("streaming.combined_open", "streaming", op):
                ci = CombinedIndex(self.spark, root)
            t2 = time.perf_counter()
            with sp("streaming.first_answer", "streaming", op):
                ans = ci.topk_local(f"deltamark{b}", k=K)
            t3 = time.perf_counter()
        if record:
            self.add_counts("streaming.batch", box)
            self.add("visible_s", t3 - t0)
            self.add("streaming.batch_index_s", t1 - t0)
            self.add("streaming.combined_open_ms", (t2 - t1) * 1e3)
            self.add("streaming.first_answer_ms", (t3 - t2) * 1e3)
        entry = [e for e in read_delta_log(root) if e["batch_id"] == b][0]
        lo, hi = entry["docid_offset"], entry["docid_offset"] + entry["n_docs"]
        d = np.asarray(ans["docid"], dtype=np.int64)
        if len(d) != min(K, entry["n_docs"]) or not ((d >= lo) & (d < hi)).all():
            self.fail(f"micro-batch {b} not visible in its first answer")
        return ci

    def local_loop(self, name: str, index, queries, recency=None,
                   samples: int = ORACLE_SAMPLES):
        """Closed-loop ``topk_local`` that must run no Spark job; returns
        latencies (ms), cache-resident flags, sampled answers and wall."""
        sp = self.tracer.span
        lat, resident, answers = [], [], {}
        keep = set(np.linspace(0, len(queries) - 1, samples,
                               dtype=int).tolist())
        with self.jobs.counting() as box:
            t_loop = time.perf_counter()
            for i, (q, mode) in enumerate(queries):
                with sp(name, name.split(".")[0], self.tracer.new_op()):
                    if recency is not None:
                        resident.append(recency.touch(tokenize_text(q)))
                    t = time.perf_counter()
                    r = index.topk_local(q, k=K, mode=mode)
                    lat.append((time.perf_counter() - t) * 1e3)
                if i in keep:
                    answers[i] = r
            wall = time.perf_counter() - t_loop
        if box["jobs"]:
            self.fail(f"{name} loop ran {box['jobs']} Spark jobs")
        return lat, resident, answers, wall

    def spark_reads(self, name: str, read, queries, warm: int):
        """Spark-job reads; the first ``warm`` calls are a warm-up ramp
        and are not timed. Returns (query, mode, answer) of timed calls."""
        sp = self.tracer.span
        out = []
        for i, (q, mode) in enumerate(queries):
            with sp(name, name.split(".")[0], self.tracer.new_op(),
                    count_jobs=True) as box:
                t = time.perf_counter()
                ans = read(q, k=K, mode=mode)
                dt = time.perf_counter() - t
            if i < warm:
                continue
            self.add_counts(name, box)
            self.add(f"{name}_ms", dt * 1e3)
            out.append((q, mode, ans))
        return out

    def fold(self, union_root: str, probe) -> str:
        sp = self.tracer.span
        op = self.tracer.new_op()
        out = self.path("folded")
        with sp("lambda.fold", "bench", op):
            t0 = time.perf_counter()
            with sp("streaming.compact_merge", "streaming", op,
                    count_jobs=True) as box:
                summary = compact_merge(self.spark, union_root, out, cfg=CFG)
            t1 = time.perf_counter()
            self.rotate(out, summary, op, probe)
            t2 = time.perf_counter()
        self.add_counts("streaming.compact_merge", box)
        self.add("streaming.fold_s", t2 - t0)
        self.add("streaming.compact_merge_s", t1 - t0)
        return out

    # -- the run ---------------------------------------------------------
    def run(self) -> None:
        wl, seed, traced = self.wl, self.seed, self.tracer.enabled
        warm = warmup_queries(seed, wl)
        serve_q = query_stream(seed, wl, wl.serve_per_s * self.seconds, 1)
        union_q = query_stream(seed, wl, wl.union_local, 2)
        uspark_q = (query_stream(seed, wl, UNION_SPARK_WARM, 6)
                    + query_stream(seed, wl, UNION_SPARK_READS, 3,
                                   SPARK_SHAPES))
        spark_q = (query_stream(seed, wl, SPARK_WARM, 7)
                   + query_stream(seed, wl, SPARK_READS, 4, SPARK_SHAPES))
        self.phase("inputs")
        deltas = self.write_deltas()

        # 1. set-ups; the last one's root is the nightly index
        self.phase("warmup")
        self.warmup()
        self.phase("setups")
        prev = None
        for i in range(SETUPS):
            cur = self.setup(i, warm[0])
            if prev is not None:
                shutil.rmtree(prev["root"])
                os.remove(prev["src"])
            prev = cur
        self.attempted += SETUPS
        self.root = cur["root"]
        nightly = pq.read_table(cur["src"], columns=ORDER + ["text"])
        self.values["n_turns"] = cur["n_turns"]
        self.values["text_bytes"] = text_bytes(nightly)
        for part in ("docstore", "postings"):
            self.values[f"{part}_bytes"] = dir_bytes(
                storage.path(self.root, part))
        self.values["index_bytes"] = dir_bytes(self.root)
        self.phase("job_floor")
        self.job_floor()

        # 2. the serving loop on the rotated-in handle, in segments spread
        # over the run so that one burst of host load moves one segment
        self.phase("serve")
        h = self.serving.handle()
        recency = Recency(FTSIndex.TERM_CACHE_CAP)
        first = self.local_loop("query.warmup", h, warm, recency)[0]
        serve = {"lat": [], "resident": [], "answers": {}, "wall": 0.0,
                 "base": []}
        segments = np.array_split(np.arange(len(serve_q)), SERVE_SEGMENTS)
        # traced runs time a twin stream with spans off, for the overhead;
        # other queries than the traced ones, so neither warms the other
        base_q = query_stream(seed, wl, len(serve_q), 5) if traced else []

        def serve_segment(k: int) -> None:
            self.phase(f"serve{k}")
            idx = segments[k]
            qs = [serve_q[i] for i in idx]
            if traced:
                serve["base"] += self.local_loop_untraced(
                    h, [base_q[i] for i in idx], recency)
            lat, res, ans, wall = self.local_loop(
                "query.topk_local", h, qs, recency, samples=1)
            serve["lat"] += lat
            serve["resident"] += res
            serve["wall"] += wall
            serve["answers"].update({int(idx[i]): a for i, a in ans.items()})

        serve_segment(0)

        # 3. one-stage fan-out reads on the nightly root
        self.phase("spark")
        fspark = self.spark_reads("query.topk", h.topk_pandas, spark_q,
                                  SPARK_WARM)
        self.attempted += len(fspark)
        serve_segment(1)

        # 4. micro-batches, each answered by a freshly opened CombinedIndex
        self.phase("batches")
        for b, (path, _) in enumerate(deltas):
            ci = self.micro_batch(b, path, record=b >= WARM_BATCHES)
        self.attempted += len(deltas)
        self.values["generations"] = len(ci.subs)
        serve_segment(2)

        # 5. closed-loop CombinedIndex.topk_local, for a per-layer metric
        union_ans = {}
        if traced:
            self.phase("union_local")
            for q, mode in warm:
                ci.topk_local(q, k=K, mode=mode)
            lat, _, union_ans, _ = self.local_loop(
                "streaming.union_topk_local", ci, union_q)
            self.series["streaming.union_local_ms"] = lat
            self.attempted += len(union_q)

        # 6. Spark-job reads over base + deltas
        self.phase("union_spark")
        uspark = self.spark_reads("streaming.union_topk", ci.topk,
                                  uspark_q, UNION_SPARK_WARM)
        self.attempted += len(uspark)
        serve_segment(3)
        self.finish_serving(h, serve, serve_q, recency, first)

        self.values["union_text_bytes"] = (self.values["text_bytes"]
                                           + text_bytes(deltas[-1][1]))
        folded = None
        if traced:
            # 7. the fold, swapped in and answered through ServingIndex
            self.phase("fold")
            folded = self.fold(ci.base_root, warm[0])
            self.attempted += 1
            self.values["fold_bytes"] = dir_bytes(folded)
            self.phase("layer_probes")
            self.layer_probes(nightly, serve_q)
        self.phase("checks")
        self.check(nightly, deltas, serve_q, serve["answers"], fspark, h,
                   union_q, union_ans, uspark, ci, folded)
        self.phase(None)

    def finish_serving(self, h, serve, serve_q, recency, first) -> None:
        lat, resident = serve["lat"], serve["resident"]
        self.attempted += len(serve_q)
        self.series["query_ms"] = lat
        self.values["qps"] = len(serve_q) / serve["wall"]
        self.values["cache_resident_share"] = float(np.mean(resident))
        # the stream's last queries again: cache-resident by construction,
        # so the repeat series is never empty on the cold workload
        again = self.local_loop("query.repeat", h, serve_q[-4:], recency)[0]
        self.series["query.repeat_ms"] = again + [
            x for r, x in zip(resident, lat) if r]
        self.series["query.first_touch_ms"] = first + [
            x for r, x in zip(resident, lat) if not r]
        if serve["base"]:
            self.values["trace.overhead_pct"] = (
                median(lat) / median(serve["base"]) - 1.0) * 100.0
        self.workload_properties(serve_q)

    def local_loop_untraced(self, h, queries, recency) -> list[float]:
        """The serving loop with spans off: the traced run's baseline for
        the tracing overhead."""
        self.tracer.enabled = False
        try:
            return self.local_loop("query.topk_local", h, queries,
                                   recency)[0]
        finally:
            self.tracer.enabled = True

    def write_deltas(self):
        """Micro-batch inputs, each text tagged with its batch's marker
        word so the batch's first answer can be recognised."""
        out = []
        for b in range(WARM_BATCHES + DELTA_BATCHES):
            tmp, path = self.path(f"d{b}.tmp.parquet"), self.path(f"d{b}.parquet")
            write_transcripts_parquet(tmp, DELTA_CONVS, self.seed + 1 + b)
            t = pq.read_table(tmp)
            os.remove(tmp)
            text = pc.binary_join_element_wise(
                t.column("text"), pa.scalar(f" deltamark{b}"), "")
            t = t.set_column(t.schema.get_field_index("text"), "text", text)
            pq.write_table(t, path)
            out.append((path, t))
        return out

    # -- per-layer probes (traced runs only) -----------------------------
    def layer_probes(self, nightly, serve_q) -> None:
        for _ in range(5):
            t = time.perf_counter()
            FTSIndex(self.spark, self.root)
            self.add("query.open_ms", (time.perf_counter() - t) * 1e3)
        texts = nightly.column("text")
        for _ in range(3):
            t = time.perf_counter()
            flat, _ = tokenize_arrow(texts)
            self.add("analyzer.tokens_per_s",
                     len(flat) / (time.perf_counter() - t))
        # codec: the posting rows of the serving stream's terms
        terms = sorted({t for q, _ in serve_q for t in tokenize_text(q)})
        rows = (ds.dataset(storage.path(self.root, "postings"),
                           format="parquet", partitioning="hive")
                .to_table(filter=ds.field("term").isin(terms[:CODEC_TERMS]),
                          columns=["blob", "block_off", "block_n"])
                .to_pylist())
        avgdl = FTSIndex(self.spark, self.root).avgdl
        dec = [decode_postings(r["blob"], np.asarray(r["block_off"]),
                               np.asarray(r["block_n"]), with_positions=True)
               for r in rows]
        lens = np.array([len(d[0]) for d in dec])
        n = int(lens.sum())
        seg_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        cat = [np.concatenate([d[i] for d in dec]) for i in range(4)]
        pbounds = np.concatenate(([0], np.cumsum(cat[1])))
        for _ in range(3):
            t = time.perf_counter()
            for r in rows:
                decode_postings(r["blob"], np.asarray(r["block_off"]),
                                np.asarray(r["block_n"]))
            self.add("codec.decode_postings_per_s",
                     n / (time.perf_counter() - t))
            t = time.perf_counter()
            for d in dec:
                bm25_partial(d[1], d[2], avgdl)
            self.add("codec.bm25_partial_per_s",
                     n / (time.perf_counter() - t))
            t = time.perf_counter()
            encode_postings_batch(cat[0], cat[1], cat[2], cat[3], pbounds,
                                  seg_starts)
            self.add("codec.encode_postings_per_s",
                     n / (time.perf_counter() - t))

    def workload_properties(self, serve_q) -> None:
        """Distinct terms, postings per query and working-set bytes of the
        serving stream, from the nightly root's term_stats."""
        per_q = [sorted(set(tokenize_text(q))) for q, _ in serve_q]
        distinct = sorted({t for ts in per_q for t in ts})
        st = (ds.dataset(storage.path(self.root, "term_stats"),
                         format="parquet")
              .to_table(filter=ds.field("term").isin(distinct),
                        columns=["term", "df"]).to_pydict())
        df = dict(zip(st["term"], st["df"]))
        self.values["distinct_terms"] = len(distinct)
        self.values["postings_per_query"] = float(np.mean(
            [sum(df.get(t, 0) for t in ts) for ts in per_q]))
        # FTSIndex's caches hold int64 (docid, tf, dl) per posting in the
        # decoded cache plus (docid, float64 partial) in the partial cache
        self.values["working_set_bytes"] = 40.0 * sum(df.values())
        self.values["term_cache_cap"] = FTSIndex.TERM_CACHE_CAP
        self.values["term_cache_bytes"] = FTSIndex.TERM_CACHE_BYTES

    # -- correctness -------------------------------------------------------
    def check(self, nightly, deltas, serve_q, serve_ans, fspark, h,
              union_q, union_ans, uspark, ci, folded) -> None:
        """Sampled answers of every timed read surface against the oracle,
        and the legs that must agree against each other. The folded root
        may number documents differently, so its answers are compared with
        the pre-fold union by score and docstore row."""
        fail = self.fail
        ids, rows = checks.oracle_corpus([(0, nightly)])
        oracle = BM25Oracle(ids, rows["text"])
        for i, ans in serve_ans.items():
            q, mode = serve_q[i]
            if not checks.same_answer(ans, oracle.topk(q, K, mode)):
                fail(f"FTSIndex.topk_local != oracle: {q!r}")
        for j, (q, mode, ans) in enumerate(fspark):
            if not checks.same_answer(ans, h.topk_local(q, k=K, mode=mode)):
                fail(f"FTSIndex.topk != topk_local: {q!r}")
            if j < 2 and not checks.same_answer(ans, oracle.topk(q, K, mode)):
                fail(f"FTSIndex.topk != oracle: {q!r}")

        # the union is the last copy: nightly + the last micro-batch
        entry, = read_delta_log(ci.base_root)
        ids, rows = checks.oracle_corpus(
            [(0, nightly), (entry["docid_offset"], deltas[-1][1])])
        oracle = BM25Oracle(ids, rows["text"])
        for i, ans in union_ans.items():
            q, mode = union_q[i]
            if not checks.same_answer(ans, oracle.topk(q, K, mode)):
                fail(f"CombinedIndex.topk_local != oracle: {q!r}")
        for j, (q, mode, ans) in enumerate(uspark):
            if not checks.same_answer(ans, ci.topk_local(q, k=K, mode=mode)):
                fail(f"CombinedIndex.topk != topk_local: {q!r}")
            if j < 2 and not checks.same_answer(ans, oracle.topk(q, K, mode)):
                fail(f"CombinedIndex.topk != oracle: {q!r}")
        if folded is None:
            return
        fidx = self.serving.handle()
        for i, ans in union_ans.items():
            q, mode = union_q[i]
            post = fidx.topk_local(q, k=K, mode=mode)
            if not checks.same_documents(
                    post, fidx.fetch_docs_local(post["docid"]), ans, rows):
                fail(f"folded root != pre-fold CombinedIndex: {q!r}")
