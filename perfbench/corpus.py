"""Seeded corpus and query generator, owned by the benchmark.

The engine ships its own synthetic corpus; the benchmark does not use it,
so that a change to the program can never shift the workload.  The
program receives only the rows (repo, path, commit, lang, content) and
the query strings made here.

Properties the layers depend on, kept on purpose:
  * Zipf term frequencies over a vocabulary whose head is stopwords, so a
    few posting lists span most of the corpus (salted encode, WAND skips);
  * a per-document topic slice mixed into every body, so weighted simhash
    fingerprints differ and near-dup removal keeps the planted pairs only;
  * planted exact duplicates and near duplicates (a copy plus two tokens);
  * ``import repo:path`` lines naming other documents, which form the link
    graph PageRank and HITS iterate over, with a few hub docs per layer;
  * one unique sentinel token per ingest wave, in three of its rows.
"""

import hashlib
import math
import random

STOPWORDS = (
    "the of and to a in is it that for on with as was be by this are or at "
    "from an but not have has had which you were they their we his her she "
    "he its all can will one there been if more when so no what about up "
    "out them then these some would other into than only who could our"
).split()

_SYLLABLES = (
    "ka ro mi ta zen lor bex dun fi gal hu jin kel lum nor pax qua rim sol "
    "tev vo wy xan yel zu bri cor dra eph gor"
).split()

_LANGS = ("python", "java", "c", "js", "md")
_EXT = {"python": "py", "java": "java", "c": "c", "js": "js", "md": "md"}

N_TOPICS = 24
TOPIC_SHARE = 0.8       # share of body tokens drawn from the doc's topic
DUP_EVERY = 53          # every DUP_EVERY-th doc copies its predecessor
NEAR_DUP_EVERY = 59     # every NEAR_DUP_EVERY-th doc copies + 2 tokens
# Imports form a layered DAG (app -> service -> core), as in a layered
# codebase.  PageRank and HITS then converge after LAYERS + 1 rounds; a
# cyclic graph runs both to their 25-round cap, and one build of it takes
# longer than a benchmark run may.
LAYERS = 3


def make_vocab(size: int) -> list[str]:
    """Stopwords first (the Zipf head), then ``size`` made-up words of
    letters only, so the engine's tokenizer keeps each one whole.  The
    vocabulary is the same for every seed: a workload's corpus and its
    queries must share it."""
    rng = random.Random("vocab")
    words, seen = list(STOPWORDS), set(STOPWORDS)
    while len(words) < len(STOPWORDS) + size:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class Generator:
    """Documents and queries over one fixed vocabulary.  ``docs`` draws
    from its own ``random.Random`` keyed by the seed and its arguments, so
    a workload can ask for any slice in any order and get the same rows."""

    def __init__(self, vocab_size: int = 20000):
        self.vocab = make_vocab(vocab_size)
        acc, self._cum = 0.0, []
        for i in range(len(self.vocab)):
            acc += 1.0 / (i + 1)
            self._cum.append(acc)
        filler = self.vocab[len(STOPWORDS):]
        step = len(filler) // N_TOPICS
        self._topics = [filler[t * step:(t + 1) * step][:400]
                        for t in range(N_TOPICS)]

    def _zipf(self, rng, n):
        return rng.choices(self.vocab, cum_weights=self._cum, k=n)

    def docs(self, seed: int, n: int, start: int = 0, repo: str = "base",
             link_base: int = 0, sentinel: str | None = None):
        """``n`` corpus rows numbered ``start .. start+n-1`` of ``repo``.

        Imports follow a layered DAG: a row in layer ``l`` imports rows of
        layers below ``l`` in this batch or, when ``link_base`` is set, among
        the first ``link_base`` rows of the ``base`` repo only: new files
        import existing modules.  ``sentinel`` is written into three rows
        that are never planted duplicates: any one row can still lose to an
        accidental simhash near-duplicate (about 1% of rows do), all three
        practically never."""
        rng = random.Random(f"docs-{seed}-{repo}-{start}-{n}")
        targets = [[] for _ in range(LAYERS)]
        linkable = ([("base", i) for i in range(link_base)] if link_base
                    else [(repo, i) for i in range(start, start + n)])
        for r, i in linkable:
            targets[self.layer(i)].append((r, i))
        hubs = [t[:max(1, len(t) // 64)] for t in targets]
        rows = []
        sentinel_rows = {n // 4, n // 2, 3 * n // 4} if sentinel else set()
        for j in range(n):
            i = start + j
            r, path, commit, lang = self.key(seed, repo, i)
            if j and j not in sentinel_rows and i % DUP_EVERY == 0:
                content = rows[-1]["content"]
            elif j and j not in sentinel_rows and i % NEAR_DUP_EVERY == 0:
                content = (rows[-1]["content"] + " "
                           + " ".join(self._zipf(rng, 2)))
            else:
                topic = self._topics[rng.randrange(N_TOPICS)]
                n_body = rng.randint(60, 260)
                n_topic = int(n_body * TOPIC_SHARE)
                body = (self._zipf(rng, n_body - n_topic)
                        + [rng.choice(topic) for _ in range(n_topic)])
                rng.shuffle(body)
                title = [rng.choice(topic) for _ in range(rng.randint(2, 6))]
                imports = []
                below = range(self.layer(i))
                for _ in range(rng.randint(0, 3) if below else 0):
                    lay = rng.choice(below)
                    pool = hubs[lay] if rng.random() < 0.3 else targets[lay]
                    if pool:
                        tr, tp, _, _ = self.key(seed, *rng.choice(pool))
                        imports.append(f"import {tr}:{tp}")
                lines = [" ".join(title), *imports, " ".join(body)]
                if j in sentinel_rows:
                    lines.append(sentinel)
                content = "\n".join(lines)
            rows.append({"repo": r, "path": path, "commit": commit,
                         "lang": lang, "content": content})
        return rows

    @staticmethod
    def layer(i: int) -> int:
        return (i * 2654435761 >> 7) % LAYERS

    @staticmethod
    def key(seed: int, repo: str, i: int):
        lang = _LANGS[(i * 7 + len(repo)) % len(_LANGS)]
        r = f"{repo}{i % 5}/proj{i % 13}"
        path = f"src/m{i // 64}/f{i}.{_EXT[lang]}"
        commit = hashlib.sha256(f"{seed}/{r}/{path}".encode()).hexdigest()
        return r, path, commit[:40], lang

    def query_terms(self, rng, n: int, hi: int | None = None):
        """``n`` distinct words with ranks drawn log-uniformly from
        ``[0, hi)`` of the vocabulary (stopwords excluded)."""
        base = len(STOPWORDS)
        hi = hi if hi is not None else len(self.vocab) - base
        out = []
        while len(out) < n:
            r = int(math.exp(rng.uniform(0.0, math.log(hi)))) - 1
            w = self.vocab[base + min(r, hi - 1)]
            if w not in out:
                out.append(w)
        return out

    @staticmethod
    def sentinel(seed: int, tag: str) -> str:
        """A token no generated word can equal: digits never appear in
        the vocabulary, and the engine keeps [a-z0-9] runs whole."""
        h = hashlib.sha256(f"{seed}-{tag}".encode()).hexdigest()[:10]
        return f"sentinel{h}"
