"""The indexed corpus that ``serve`` and ``ingest`` start from.

Building it takes one Spark build (about 90 s on a 4-vCPU VM), which
would not fit a benchmark run, so it is built once per checkout, by the
first run, and kept under ``.perfbench/cache/<key>``, where ``key`` hashes
the engine's source and the benchmark files that shape the fixture.  Its
corpus comes from a fixed seed; each run's ``--seed`` picks the queries
and the ingest waves.

Layout of a fixture directory:
  base/             segmented index (``init_segmented``): ``segments.json``
                    and ``seg=0/``, a complete ``write_index`` directory
                    that ``serve`` opens as a plain index
  meta.json         corpus size, the check sample with its exhaustive
                    top-k, and a pool of phrases found in the corpus
"""

import fcntl
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
from types import SimpleNamespace

from perfbench.corpus import STOPWORDS, Generator

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE_SEED = 20240601
FIXTURE_DOCS = 4000
CHECK_AND = 16
CHECK_OR = 8
TOP_K = 10
CORPUS_SCHEMA = ("repo string, path string, commit string, lang string, "
                 "content string")


def source_key() -> str:
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "perfbench", f)
             for f in ("corpus.py", "fixture.py", "checks.py")]
    engine = os.path.join(ROOT, "searchengine_spark")
    for d, _, names in sorted(os.walk(engine)):
        files += [os.path.join(d, n) for n in sorted(names)
                  if n.endswith((".py", ".txt"))]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class Fixture:
    def __init__(self, path: str):
        self.base = os.path.join(path, "base")
        self.seg0 = os.path.join(self.base, "seg=0")
        with open(os.path.join(path, "meta.json")) as f:
            self.meta = json.load(f)


def ensure(run) -> Fixture:
    """The cached fixture, built first if missing.  The build runs in a
    child process, so the process that measures has never run it."""
    final = os.path.join(run.cache_root, source_key())
    if not os.path.exists(os.path.join(final, "meta.json")):
        subprocess.run([sys.executable, "-m", "perfbench.fixture", final],
                       cwd=ROOT, stdout=sys.stderr, check=True, timeout=840)
    return Fixture(final)


def main(final: str):
    from perfbench.run import Run, configure_env

    run = Run(SimpleNamespace(workload="fixture", seed=FIXTURE_SEED,
                              seconds=0, trace=0))
    configure_env(run.work)
    os.makedirs(run.cache_root, exist_ok=True)
    try:
        with open(os.path.join(run.cache_root, ".lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            if not os.path.exists(os.path.join(final, "meta.json")):
                tmp = f"{final}.tmp-{os.getpid()}"
                shutil.rmtree(tmp, ignore_errors=True)
                _build(run, tmp)
                os.replace(tmp, final)
    finally:
        run.close()


def body_words(content: str) -> list[str]:
    """The generated words of a document's body line, in order."""
    lines = content.split("\n")
    body = [ln for ln in lines if not ln.startswith("import ")]
    return max(body, key=len).split() if body else []


def _build(run, out: str):
    from searchengine_spark.index.pipeline import build_tables
    from searchengine_spark.index.segments import init_segmented
    from searchengine_spark.index.shards import load_index
    from searchengine_spark.query.wand import exhaustive_topk

    from perfbench.checks import manifest_problems

    spark = run.spark()
    rows = Generator().docs(FIXTURE_SEED, FIXTURE_DOCS)
    corpus = spark.createDataFrame(
        [tuple(r.values()) for r in rows], CORPUS_SCHEMA)
    tables = build_tables(spark, corpus, compute_quality=True)
    base = os.path.join(out, "base")
    init_segmented(spark, tables, base)
    seg0 = os.path.join(base, "seg=0")
    problems = manifest_problems(seg0)
    if problems:
        raise RuntimeError(f"fixture index is broken: {problems}")

    rng = random.Random("fixture-check")
    stop = set(STOPWORDS)
    check = []
    for i in range(CHECK_AND + CHECK_OR):
        words = [w for w in body_words(rng.choice(rows)["content"])
                 if w not in stop]
        check.append({"qid": i, "mode": "and" if i < CHECK_AND else "or",
                      "text": " ".join(rng.sample(words, 2))})
    shards = load_index(spark, seg0)
    for mode in ("and", "or"):
        qs = [(c["qid"], c["text"]) for c in check if c["mode"] == mode]
        got = exhaustive_topk(spark, shards, qs, k=TOP_K, mode=mode).collect()
        for c in check:
            if c["mode"] == mode:
                c["expect"] = sorted(
                    [r["rank"], r["docid"], r["score"]]
                    for r in got if r["qid"] == c["qid"])
    if not all(c["expect"] for c in check):
        raise RuntimeError("a fixture check query matched nothing")

    phrases = []
    for _ in range(2000):
        words = body_words(rng.choice(rows)["content"])
        i = rng.randrange(len(words) - 1)
        phrases.append(" ".join(words[i:i + 2]))
    meta = {
        "seed": FIXTURE_SEED,
        "docs": FIXTURE_DOCS,
        "input_bytes": sum(len(r["content"].encode()) for r in rows),
        "check": check,
        "phrases": phrases,
    }
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)


if __name__ == "__main__":
    main(sys.argv[1])
