"""The two workloads.  Each takes a ``run.Run`` and returns
``(end_to_end, per_layer)``: dicts of metric name -> (value, unit).

All are closed loops with one client: the next operation starts when the
previous one has returned.  Per-layer metrics a workload does not exercise
are reported as 0; perfbench/README.md lists which workload gives which.
"""

import json
import math
import os
import random
import shutil
import statistics
import time

from perfbench import checks, fixture
from perfbench.corpus import STOPWORDS, Generator
from perfbench.reference import Reference
from perfbench.tracing import Tracer, instrument, maybe_span

TOP_K = fixture.TOP_K
# In-process work of the Spark workload (ingest's searcher set-up and hot
# queries, the decode and analyze probes) is timed in CPU seconds of this
# process.  ``serve`` runs no Spark; it is timed by the wall clock, its
# client thread on one pinned CPU (see ``_pin_main_thread``), and scaled
# to a reference speed (see perfbench/reference.py).
cpu_clock = time.process_time
SETUP_REPEATS = 21
SETUP_REF_SAMPLES = 10
BATCH_QUERIES = 100
WAVE_DOCS = 500
# While a wave is folded in, a background thread runs the reference task
# every WAVE_REF_EVERY_S seconds (~1% of one CPU); the wave's visibility
# time is scaled by the WAVE_REF_PCT-th percentile task time.  On five
# seeds this read a spread of 0.035 scaled against 0.125 raw.
WAVE_REF_EVERY_S = 0.1
WAVE_REF_PCT = 10
DELETES_PER_WAVE = 3
HOT_WORDS = 60
HOT_QUERIES = 40

E2E_UNITS = {"setup_s": "s", "throughput_per_s": "1/s",
             "latency_p50_ms": "ms"}
LAYER_UNITS = {
    "text.analyze_docs_per_s": "1/s",
    "pipeline.build_tables_self_s": "s",
    "graph.pagerank_s": "s",
    "graph.hits_s": "s",
    "graph.spark_jobs": "count",
    "shards.write_index_s": "s",
    "shards.blocks": "count",
    "shards.postings": "count",
    "shards.index_bytes": "B",
    "varbyte.decode_mb_per_s": "MB/s",
    "serve_local.load_s": "s",
    "serve_local.and_ms_p50": "ms",
    "serve_local.or_ms_p50": "ms",
    "serve_local.phrase_ms_p50": "ms",
    "serve_local.blended_ms_p50": "ms",
    "serve_local.query_ms_p99": "ms",
    "serve_local.empty_frac": "fraction",
    "serve_local.rss_mb": "MB",
    "wand.plan_terms_s": "s",
    "wand.topk_s": "s",
    "wand.spark_jobs_per_batch": "count",
    "wand.warm_over_cold": "ratio",
    "segments.append_s": "s",
    "segments.merge_s": "s",
    "segments.delete_s": "s",
    "segments.n_segments_max": "count",
    "segments.bytes_written_per_input_byte": "B/B",
    "trace.overhead_frac": "fraction",
}


def _pct(values, q: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, math.ceil(q * len(v)) - 1))]


def _rss_mb() -> float:
    with open("/proc/self/statm") as f:
        pages = int(f.read().split()[1])
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


def _report(e2e: dict, layers: dict):
    return ({k: (float(e2e[k]), u) for k, u in E2E_UNITS.items()},
            {k: (float(layers.get(k, 0.0)), u)
             for k, u in LAYER_UNITS.items()})


def _scaled_setup(ref, make):
    """Run ``make`` SETUP_REPEATS times from the calling thread pinned to
    one CPU, each right after a few reference tasks that scale its wall
    time to the reference speed (see perfbench/reference.py); return
    (last result, median scaled time).  The host slows a few calls in a
    row now and then, and the tasks just before a call see the same
    slowdown.  Every thread gets back the CPUs it had."""
    cpus = os.sched_getaffinity(0)
    _pin_main_thread()
    try:
        times, obj = [], None
        for _ in range(SETUP_REPEATS):
            ref.sample(SETUP_REF_SAMPLES)
            f = ref.factor()
            t = time.perf_counter()
            obj = make()
            times.append((time.perf_counter() - t) * f)
    finally:
        _set_cpus(cpus)
    return obj, statistics.median(times)


def _index_layers(index_dir: str) -> dict:
    """Exact index sizes plus bulk-decode throughput over every block
    payload of ``index_dir`` (median of three passes)."""
    import pyarrow.dataset as pads

    from searchengine_spark.index.varbyte import decode_payloads_np

    blocks, postings = checks.manifest_counts(index_dir)
    payloads = pads.dataset(
        os.path.join(index_dir, "postings"), format="parquet",
        partitioning="hive").to_table(columns=["payload"]).column(
            "payload").to_pylist()
    times = []
    for _ in range(3):
        t = cpu_clock()
        decode_payloads_np(payloads, want_positions=True)
        times.append(cpu_clock() - t)
    return {
        "shards.blocks": blocks,
        "shards.postings": postings,
        "shards.index_bytes": checks.dir_bytes(index_dir),
        "varbyte.decode_mb_per_s":
            sum(map(len, payloads)) / 1e6 / statistics.median(times),
    }


def _check_index(run, index_dir: str):
    problems = checks.manifest_problems(index_dir)
    run.record(not problems, "; ".join(problems))


# -- serve -----------------------------------------------------------------

SERVE_MIX = (("and", 0.7), ("or", 0.1), ("phrase", 0.1), ("blended", 0.1))
# The seeded query log one serve run replays.  Its terms span some 650
# distinct words, well over the searcher's 256-term postings cache; the
# caches' evictions follow the query order alone, so at each query of the
# log they are in the same state in every pass after the first.
SERVE_QUERIES = 600
MIN_TIMED_PASSES = 3
# Reference tasks (see perfbench/reference.py) run between queries: this
# many after every REF_EVERY queries.
REF_EVERY = 10
REF_SAMPLES = 2


def _set_cpus(cpus):
    """Let every thread of this process run only on ``cpus``.  Affinity
    is per thread, and a new thread inherits its creator's."""
    for tid in os.listdir("/proc/self/task"):
        try:
            os.sched_setaffinity(int(tid), cpus)
        except ProcessLookupError:  # the thread has ended
            pass


def _pin_main_thread():
    """Keep the calling thread, the one client, on one CPU.  Arrow's pool
    threads, to which the searcher hands its parquet scans, keep every
    CPU as long as they started before.  On a 4-vCPU VM this read the
    fastest and steadiest of three set-ups, five seeds each in turn:
    median query 1.58-1.71 ms (scaled), against 1.84-2.01 unpinned and
    1.92-2.09 with every thread on one CPU."""
    os.sched_setaffinity(0, {max(os.sched_getaffinity(0))})


def _stratified_words(gen, rng, n: int, width: int) -> list:
    """``n`` lists of ``width`` distinct words whose vocabulary ranks are
    log-uniform, as ``Generator.query_terms`` draws them, but with one
    rank from each of ``n * width`` equal slices of the log-rank range,
    dealt out in seeded order.  The words change with the seed; the mix of
    common and rare ones, which sets what a query costs, hardly does."""
    base = len(STOPWORDS)
    hi = len(gen.vocab) - base
    m = n * width
    ranks = [min(int(math.exp((i + rng.random()) / m * math.log(hi))) - 1,
                 hi - 1) for i in range(m)]
    rng.shuffle(ranks)
    out = []
    for _ in range(n):
        words, deferred = [], 0
        while len(words) < width:
            if deferred < len(ranks):
                r = ranks.pop()
                if gen.vocab[base + r] in words:  # deal it to a later query
                    ranks.insert(0, r)
                    deferred += 1
                    continue
                w = gen.vocab[base + r]
            else:  # only repeats of this query's words are left
                w = gen.query_terms(rng, 1)[0]
                if w in words:
                    continue
            words.append(w)
        out.append(words)
    return out


def serve(run):
    """LocalSearcher over the fixture index, no Spark, one client thread
    pinned to one CPU.  A seeded log of SERVE_QUERIES queries (2-term AND,
    3-term OR, phrase and blended, terms log-uniform over a 20k-word
    vocabulary, far more than the searcher's 256-term postings cache
    holds) is replayed in passes until ``--seconds`` have passed, after an
    untimed pass that warms the searcher.  Every wall time of a pass is
    scaled to the reference speed by the reference task run between its
    queries (see perfbench/reference.py).  A query's latency is its best
    scaled time over the timed passes, which drops the passes in which
    another tenant of the host preempted it.  ``setup_s`` is
    ``_scaled_setup`` of the searcher's load, made after the warm-up
    pass."""
    from searchengine_spark.query.serve_local import LocalSearcher

    fx = fixture.ensure(run)
    _check_index(run, fx.seg0)
    gen = Generator()
    rng = random.Random(f"serve-{run.seed}")
    kinds = [kind for kind, _w in SERVE_MIX]
    # exact shares of each kind, in seeded order: the mix itself does not
    # vary with the seed, only its queries do
    order = [kind for kind, w in SERVE_MIX
             for _ in range(round(w * SERVE_QUERIES))]
    rng.shuffle(order)
    words = {kind: _stratified_words(gen, rng, order.count(kind),
                                     3 if kind == "or" else 2)
             for kind in kinds if kind != "phrase"}
    log = []
    for kind in order:
        if kind == "phrase":
            log.append((kind, rng.choice(fx.meta["phrases"])))
        else:
            log.append((kind, " ".join(words[kind].pop())))

    ref = Reference(run.work)
    rss0 = _rss_mb()
    ls = LocalSearcher(fx.seg0)
    call = {
        "and": lambda q: ls.topk(q, k=TOP_K),
        "or": lambda q: ls.topk(q, k=TOP_K, mode="or"),
        "phrase": lambda q: ls.phrase_topk(q),
        "blended": lambda q: ls.blended_topk(q, k=TOP_K),
    }
    tracer = run.tracer = Tracer() if run.trace else None
    empty = [False] * len(log)

    def replay():
        """One pass over the log: (wall time of each query that did not
        fail, reference-speed factor of the pass)."""
        took = {}
        for i, (kind, q) in enumerate(log):
            if i % REF_EVERY == 0:
                ref.sample(REF_SAMPLES)
            try:
                with maybe_span(tracer, f"serve_local.{kind}", jobs=False):
                    a = time.perf_counter()
                    res = call[kind](q)
                    took[i] = time.perf_counter() - a
            except Exception as e:  # a failed query counts, the loop goes on
                run.record(False, f"{kind} {q!r}: {e!r}")
                continue
            run.record(True)
            empty[i] = not res
        return took, ref.factor()

    replay()  # fills the searcher's caches and starts Arrow's pool threads
    rss = _rss_mb() - rss0
    _, setup_s = _scaled_setup(ref, lambda: LocalSearcher(fx.seg0))
    _pin_main_thread()
    best = [math.inf] * len(log)
    passes = 0
    t0 = time.perf_counter()
    end = t0 + run.seconds
    while passes < MIN_TIMED_PASSES or time.perf_counter() < end:
        took, f = replay()
        for i, x in took.items():
            best[i] = min(best[i], x * f)
        passes += 1
    wall = time.perf_counter() - t0

    for c in fx.meta["check"]:
        got = ls.topk(c["text"], k=TOP_K, mode=c["mode"])
        run.record(checks.same_topk(got, [tuple(e) for e in c["expect"]]),
                   f"serve check {c['mode']} {c['text']!r}")

    timed = [b for b in best if b < math.inf]
    e2e = {"setup_s": setup_s, "throughput_per_s": len(timed) / sum(timed),
           "latency_p50_ms": statistics.median(timed) * 1e3}
    layers = {}
    if run.trace:
        layers = _index_layers(fx.seg0)
        layers.update({
            "serve_local.load_s": setup_s,
            "serve_local.query_ms_p99": _pct(timed, 0.99) * 1e3,
            "serve_local.empty_frac": sum(empty) / len(log),
            "serve_local.rss_mb": rss,
            "trace.overhead_frac": tracer.overhead_s / wall,
        })
        for kind in kinds:
            lat = [b for (k, _q), b in zip(log, best)
                   if k == kind and b < math.inf]
            layers[f"serve_local.{kind}_ms_p50"] = (
                statistics.median(lat) * 1e3 if lat else 0.0)
    return _report(e2e, layers)


def _batch_queries(gen, rng):
    return [(qid, " ".join(gen.query_terms(rng, 2)))
            for qid in range(BATCH_QUERIES)]


def _wand_batches(run, tracer, spark, index_dir, ls, qs) -> dict:
    """Spark ``wand_topk`` over ``index_dir``: the batch ``qs`` twice with
    one BlockCache (the repeat finds its blocks cached).  Every row must
    match ``ls.topk`` for the same query."""
    from searchengine_spark.index.segments import load_segments
    from searchengine_spark.query import wand

    shards = load_segments(spark, index_dir)
    cache = wand.BlockCache()
    secs = []
    targets = [(wand, "plan_terms", "wand.plan_terms")] if tracer else []
    with instrument(tracer, targets):
        for _phase in ("cold", "warm"):
            with maybe_span(tracer, "wand.wand_topk"):
                a = time.perf_counter()
                rows = wand.wand_topk(spark, shards, qs, k=TOP_K,
                                      cache=cache).collect()
                secs.append(time.perf_counter() - a)
            by_qid = {}
            for r in rows:
                by_qid.setdefault(r["qid"], []).append(
                    (r["rank"], r["docid"], r["score"]))
            for qid, text in qs:
                run.record(checks.same_topk(by_qid.get(qid, []),
                                            ls.topk(text, k=TOP_K)),
                           f"wand qid {qid} {text!r}")
    cache.clear()
    if tracer is None:
        return {}
    return {
        "wand.plan_terms_s": tracer.total("wand.plan_terms") / len(secs),
        "wand.topk_s": statistics.median(secs),
        "wand.spark_jobs_per_batch":
            tracer.total("wand.wand_topk", "jobs") / len(secs),
        "wand.warm_over_cold": secs[1] / secs[0],
    }


# -- ingest ----------------------------------------------------------------

def _analyze_docs_per_s(rows) -> float:
    """The build's analyze function, called in-process on Arrow batches of
    the wave (median of three passes)."""
    import pyarrow as pa

    from searchengine_spark.text.udfs import make_analyze_partition_arrow

    batches = pa.Table.from_pylist(
        [{"docid": i + 1, "content": r["content"]} for i, r in enumerate(rows)]
    ).to_batches(max_chunksize=256)
    times = []
    for _ in range(3):
        fn = make_analyze_partition_arrow(stem=True)
        t = cpu_clock()
        for _out in fn(iter(batches)):
            pass
        times.append(cpu_clock() - t)
    return len(rows) / statistics.median(times)


def ingest(run):
    """Waves of new files land beside a serving LocalSearcher.  Each wave
    is folded into the segmented fixture index by
    ``compact_stream_to_segment(merge_factor=4)`` with the build settings
    of the fixture (quality on), followed by a small ``delete_docs`` batch;
    between waves the searcher refreshes and serves a hot query set whose
    terms fit its postings cache.  After the last wave, a batch of 2-term
    AND queries goes through Spark ``wand_topk`` twice (cold, then with
    its blocks cached) and is checked against the searcher, and
    ``fsck_index`` audits the index.  A wave's visibility time is scaled
    to the reference speed (see WAVE_REF_PCT)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from searchengine_spark.graph import hits, pagerank
    from searchengine_spark.index import pipeline, segments
    from searchengine_spark.query.serve_local import LocalSearcher
    from searchengine_spark.streaming.ingest import compact_stream_to_segment

    fx = fixture.ensure(run)
    spark = run.spark()
    idx = os.path.join(run.work, "index")
    inbox = os.path.join(run.work, "inbox")
    marker = os.path.join(run.work, "marker.json")
    shutil.copytree(fx.base, idx)
    os.makedirs(inbox)
    gen = Generator()
    rng = random.Random(f"ingest-{run.seed}")
    hot_words = gen.query_terms(rng, HOT_WORDS, hi=2000)
    hot = [" ".join(rng.sample(hot_words, rng.randint(1, 2)))
           for _ in range(HOT_QUERIES)]

    ref = Reference(run.work)
    ls, setup_s = _scaled_setup(ref, lambda: LocalSearcher(idx))
    tracer = run.tracer = Tracer(spark) if run.trace else None
    targets = [
        (pipeline, "build_tables", "pipeline.build_tables"),
        (pagerank, "pagerank_df", "graph.pagerank_df"),
        (hits, "hits_df", "graph.hits_df"),
        (segments, "write_index", "shards.write_index"),
        (segments, "append_segment", "segments.append_segment"),
        (segments, "merge_run", "segments.merge_run"),
    ] if tracer else []
    deleted = set()
    hot_lat = []

    def serve_hot():
        """One pass of the hot set; returns the docids it saw."""
        seen = set()
        for q in hot:
            with maybe_span(tracer, "serve_local.and", jobs=False):
                a = cpu_clock()
                res = ls.topk(q, k=TOP_K)
                hot_lat.append(cpu_clock() - a)
            back = deleted.intersection(d for _r, d, _s in res)
            run.record(not back, f"deleted docids {sorted(back)} returned")
            seen.update(d for _r, d, _s in res)
        return seen

    def refresh():
        with maybe_span(tracer, "serve_local.refresh"):
            ls.maybe_refresh()
        n_segments.append(ls.stats()["n_segments"])

    visible, wave_rows, n_segments = [], [], []
    bytes_before = checks.dir_bytes(idx)
    t0 = time.perf_counter()
    with instrument(tracer, targets):
        while not visible or time.perf_counter() < t0 + run.seconds:
            with maybe_span(tracer, "ingest.wave"):
                live = sorted(serve_hot())
                k = len(visible)
                sentinel = gen.sentinel(run.seed, f"wave{k}")
                rows = gen.docs(run.seed, WAVE_DOCS, start=k * WAVE_DOCS,
                                repo="wave", link_base=fx.meta["docs"],
                                sentinel=sentinel)
                wave_rows += rows
                tmp = os.path.join(run.work, f"wave{k}.parquet")
                pq.write_table(pa.Table.from_pylist(rows), tmp)
                os.replace(tmp, os.path.join(inbox, f"wave{k}.parquet"))
                with ref.sampling(WAVE_REF_EVERY_S):
                    landed = time.perf_counter()
                    with maybe_span(tracer,
                                    "streaming.compact_stream_to_segment"):
                        compact_stream_to_segment(spark, inbox, idx, marker,
                                                  merge_factor=4,
                                                  compute_quality=True)
                    refresh()
                    found = ls.topk(sentinel, k=TOP_K)
                    visible_s = time.perf_counter() - landed
                visible.append(visible_s * ref.factor(WAVE_REF_PCT))
                run.record(bool(found), f"wave {k} sentinel not visible")

                victims = rng.sample(live, min(DELETES_PER_WAVE, len(live)))
                with maybe_span(tracer, "segments.delete_docs"):
                    segments.delete_docs(spark, idx, victims)
                deleted.update(victims)
                refresh()
                serve_hot()
                run.record(bool(ls.topk(sentinel, k=TOP_K)),
                           f"wave {k} sentinel lost after delete")

    wand_layers = _wand_batches(run, tracer, spark, idx, ls,
                                _batch_queries(gen, rng))
    wall = time.perf_counter() - t0
    violations = segments.fsck_index(spark, idx).limit(20).collect()
    run.record(not violations, f"fsck: {[tuple(v) for v in violations]}")
    with open(os.path.join(idx, "segments.json")) as f:
        live_segs = json.load(f)["segments"]
    for name in live_segs:
        _check_index(run, os.path.join(idx, name))

    input_bytes = sum(len(r["content"].encode()) for r in wave_rows)
    e2e = {"setup_s": setup_s,
           "throughput_per_s": len(wave_rows) / sum(visible),
           "latency_p50_ms": statistics.median(visible) * 1e3}
    layers = {}
    if run.trace:
        waves = len(visible)
        graph = ("graph.pagerank_df", "graph.hits_df")
        layers = _index_layers(os.path.join(idx, live_segs[-1]))
        layers.update({
            "text.analyze_docs_per_s": _analyze_docs_per_s(wave_rows),
            "pipeline.build_tables_self_s":
                tracer.self_times().get("pipeline.build_tables", 0.0) / waves,
            "graph.pagerank_s": tracer.total("graph.pagerank_df") / waves,
            "graph.hits_s": tracer.total("graph.hits_df") / waves,
            "graph.spark_jobs":
                sum(tracer.total(g, "jobs") for g in graph) / waves,
            "shards.write_index_s":
                tracer.total("shards.write_index") / waves,
            "serve_local.load_s": statistics.median(
                s["end"] - s["start"]
                for s in tracer.by_name("serve_local.refresh")),
            "serve_local.and_ms_p50": statistics.median(hot_lat) * 1e3,
            "serve_local.query_ms_p99": _pct(hot_lat, 0.99) * 1e3,
            "segments.append_s":
                tracer.total("segments.append_segment") / waves,
            "segments.merge_s": tracer.total("segments.merge_run") / waves,
            "segments.delete_s":
                tracer.total("segments.delete_docs") / waves,
            "segments.n_segments_max": max(n_segments),
            "segments.bytes_written_per_input_byte":
                (checks.dir_bytes(idx) - bytes_before) / input_bytes,
            "trace.overhead_frac": tracer.overhead_s / wall,
            **wand_layers,
        })
    return _report(e2e, layers)


WORKLOADS = {"serve": serve, "ingest": ingest}
