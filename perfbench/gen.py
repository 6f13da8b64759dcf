"""Seeded workload generator.

Everything the benchmark feeds the engine is built here from the
corpus copy in ``perfbench/data/documents.parquet`` and a seed. The
module imports no Spark: it returns plain Python values (lists, tuples,
dicts), so the same seed gives byte-identical inputs
(``test_gen.py`` pins this through ``fingerprint``).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")

SECTION_NAMES = ("Introduction", "Methods", "Results", "Discussion")
# Words absent from the corpus vocabulary: off-corpus query texts and
# paragraph edits draw from here, so they never match stored text exactly.
OFF_VOCAB = (
    "alpha", "bravo", "delta", "echo", "gamma", "kappa", "lambda", "omega",
    "sigma", "theta", "zeta", "lumen", "quartz", "nimbus", "vertex", "orbit",
)

# live workload shape
LIVE_PRELOAD = 60           # articles in the store before the timed loop
LIVE_NEW_PER_STEP = 2       # brand-new articles per upload
LIVE_UPLOAD = LIVE_NEW_PER_STEP + 2  # plus one edited and one shortened re-upload
LIVE_STEPS = 12             # schedule length (the loop uses a prefix)
QUERY_BATCH = 16            # texts in the batched query call
SINGLES_PER_STEP = 5        # batch-of-1 query calls per step
OFF_CORPUS_PER_BATCH = 3    # of those, texts built from OFF_VOCAB

# curate workload shape
CURATE_BACKGROUND = 1700
CURATE_EXACT_COPIES = 50
CURATE_CHAINS = 40
CURATE_CHAIN_LEN = 4
CURATE_GROUPS = 30
CURATE_GROUP_SIZE = 3
CURATE_DIM = 64


def load_corpus(path: str = CORPUS) -> list[tuple[int, str]]:
    """(doc_id, text) rows of the corpus, in file order."""
    t = pq.read_table(path, columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def _article(aid: str, words: list[str], rng: np.random.Generator):
    """Split a document's words into paragraphs of 6-14 words and the
    paragraphs into 1-3 sections with distinct names."""
    paras = []
    i = 0
    while i < len(words):
        n = int(rng.integers(6, 15))
        paras.append(" ".join(words[i : i + n]))
        i += n
    n_sec = max(1, min(3, len(paras) // 2))
    cuts = sorted(rng.choice(np.arange(1, len(paras)), size=n_sec - 1, replace=False).tolist()) if n_sec > 1 else []
    bounds = [0] + cuts + [len(paras)]
    names = [SECTION_NAMES[j] for j in range(n_sec)]
    sections = [paras[bounds[j] : bounds[j + 1]] for j in range(n_sec)]
    return (aid, names, sections)


def _off_text(rng: np.random.Generator, n: int = 8) -> str:
    return " ".join(OFF_VOCAB[int(k)] for k in rng.integers(0, len(OFF_VOCAB), n))


def _corpus_query(article, rng: np.random.Generator) -> str:
    """One paragraph of a stored article, verbatim (the fake encoder maps
    texts to unrelated vectors, so only a stored text has a true match)."""
    _, _, sections = article
    sec = sections[int(rng.integers(0, len(sections)))]
    return sec[int(rng.integers(0, len(sec)))]


def _edited(article, rng: np.random.Generator):
    """Same article id, one paragraph replaced by a new text."""
    aid, names, sections = article
    sections = [list(s) for s in sections]
    s = int(rng.integers(0, len(sections)))
    p = int(rng.integers(0, len(sections[s])))
    sections[s][p] = _off_text(rng, 5) + " " + sections[s][p]
    return (aid, list(names), sections)


def _shortened(article):
    """Same article id with its longest section's last paragraph dropped
    (or its last section dropped when every section has one paragraph),
    so the re-upload has to delete stored chunks."""
    aid, names, sections = article
    sections = [list(s) for s in sections]
    names = list(names)
    longest = max(range(len(sections)), key=lambda j: (len(sections[j]), -j))
    if len(sections[longest]) > 1:
        sections[longest].pop()
    elif len(sections) > 1:
        sections.pop()
        names.pop()
    else:
        return None
    return (aid, names, sections)


@dataclass
class LiveStep:
    upload: list            # articles: (article_id, section_names, sections)
    batch: list[str]        # QUERY_BATCH texts; the last is aimed at `aimed`
    singles: list[str]      # texts of the batch-of-1 query calls
    html: str               # the query_html text
    aimed: str              # article id the last batch text was taken from
    shortened: list[str] = field(default_factory=list)


@dataclass
class LiveInputs:
    preload: list
    warm_batch: list[str]
    warm_html: str
    steps: list[LiveStep]


def live_inputs(seed: int, corpus: list[tuple[int, str]] | None = None) -> LiveInputs:
    corpus = corpus if corpus is not None else load_corpus()
    rng = np.random.default_rng([seed, 1])
    order = rng.permutation(len(corpus))
    fresh = iter(order.tolist())

    def new_article():
        did, text = corpus[next(fresh)]
        return _article(f"PMC{did:05d}", text.split(), rng)

    preload = [new_article() for _ in range(LIVE_PRELOAD)]
    state = {a[0]: a for a in preload}
    ids = [a[0] for a in preload]

    def corpus_texts(n):
        return [_corpus_query(state[ids[int(rng.integers(0, len(ids)))]], rng) for _ in range(n)]

    warm_batch = corpus_texts(QUERY_BATCH - OFF_CORPUS_PER_BATCH) + [
        _off_text(rng) for _ in range(OFF_CORPUS_PER_BATCH)
    ]
    warm_html = corpus_texts(1)[0]
    steps = []
    for _ in range(LIVE_STEPS):
        upload = [new_article() for _ in range(LIVE_NEW_PER_STEP)]
        # re-uploads come from articles stored before this step; every
        # step shortens one, so each upload has the same article count
        old = [ids[int(k)] for k in rng.permutation(len(ids))]
        upload.append(_edited(state[old[0]], rng))
        short = next(s for s in (_shortened(state[a]) for a in old[1:]) if s is not None)
        upload.append(short)
        shortened = [short[0]]
        for a in upload:
            if a[0] not in state:
                ids.append(a[0])
            state[a[0]] = a
        aimed = upload[int(rng.integers(0, len(upload)))]
        batch = (
            corpus_texts(QUERY_BATCH - OFF_CORPUS_PER_BATCH - 1)
            + [_off_text(rng) for _ in range(OFF_CORPUS_PER_BATCH)]
            + [_corpus_query(aimed, rng)]
        )
        steps.append(
            LiveStep(
                upload=upload,
                batch=batch,
                singles=corpus_texts(SINGLES_PER_STEP),
                html=corpus_texts(1)[0],
                aimed=aimed[0],
                shortened=shortened,
            )
        )
    return LiveInputs(preload=preload, warm_batch=warm_batch, warm_html=warm_html, steps=steps)


@dataclass
class CurateInputs:
    rows: list              # (doc_id, text, embedding list[float])
    chains: list[list[int]]  # planted near-duplicate chains (doc ids)
    groups: list[list[int]]  # planted semantic-duplicate groups (doc ids)


def _substitute(words: list[str], rng: np.random.Generator, vocab: list[str]) -> list[str]:
    """One word replaced by a different vocabulary word."""
    out = list(words)
    i = int(rng.integers(0, len(out)))
    choices = [w for w in vocab if w != out[i]]
    out[i] = choices[int(rng.integers(0, len(choices)))]
    return out


def _unit(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v)


def shingle_set(text: str, n: int = 3) -> set[str]:
    w = text.split()
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def _near_dup_index(corpus):
    """Shingle sets and a shingle → documents posting list of the corpus."""
    sets = [shingle_set(t) for _, t in corpus]
    postings: dict[str, list[int]] = {}
    for i, s in enumerate(sets):
        for g in s:
            postings.setdefault(g, []).append(i)
    return sets, postings


def _isolated(index, candidates, needed: int, max_jaccard: float = 0.3) -> list[int]:
    """The first ``needed`` candidates whose text has no other corpus
    document within ``max_jaccard`` (3-gram Jaccard). The corpus carries
    natural near-duplicates; leaving them out keeps the lexical structure
    of every seed's corpus to the planted chains and copies."""
    sets, postings = index
    out = []
    for i in candidates:
        overlap: dict[int, int] = {}
        for g in sets[i]:
            for j in postings[g]:
                if j != i:
                    overlap[j] = overlap.get(j, 0) + 1
        if all(n / (len(sets[i]) + len(sets[j]) - n) < max_jaccard for j, n in overlap.items()):
            out.append(i)
            if len(out) == needed:
                break
    return out


def _curate_rows(seed: int, corpus, index):
    rng = np.random.default_rng([seed, 2])
    vocab = sorted({w for _, t in corpus for w in t.split()})
    order = rng.permutation(len(corpus)).tolist()
    long_ids = _isolated(
        index,
        [i for i in order if len(corpus[i][1].split()) >= 40],
        CURATE_CHAINS + CURATE_GROUPS * CURATE_GROUP_SIZE,
    )
    chain_src = long_ids[:CURATE_CHAINS]
    group_src = long_ids[CURATE_CHAINS:]
    used = set(chain_src) | set(group_src)
    background = _isolated(index, [i for i in order if i not in used], CURATE_BACKGROUND)

    docs = []  # (text, vector, tag)
    for i in background:
        docs.append((corpus[i][1], _unit(rng.standard_normal(CURATE_DIM)), None))
    for _ in range(CURATE_EXACT_COPIES):
        text, vec, _ = docs[int(rng.integers(0, len(background)))]
        docs.append((text, vec, None))
    for c, i in enumerate(chain_src):
        words = corpus[i][1].split()
        for _ in range(CURATE_CHAIN_LEN):
            docs.append((" ".join(words), _unit(rng.standard_normal(CURATE_DIM)), ("chain", c)))
            words = _substitute(words, rng, vocab)
    for g in range(CURATE_GROUPS):
        base = rng.standard_normal(CURATE_DIM)
        for m in range(CURATE_GROUP_SIZE):
            i = group_src[g * CURATE_GROUP_SIZE + m]
            vec = _unit(base + 1e-3 * rng.standard_normal(CURATE_DIM))
            docs.append((corpus[i][1], vec, ("group", g)))

    # doc ids are a shuffled range, so planted members are not the lowest ids
    ids = rng.permutation(len(docs)).tolist()
    rows, chains, groups = [], [[] for _ in range(CURATE_CHAINS)], [[] for _ in range(CURATE_GROUPS)]
    for doc_id, (text, vec, tag) in zip(ids, docs):
        rows.append((int(doc_id), text, [float(x) for x in vec]))
        if tag is not None:
            (chains if tag[0] == "chain" else groups)[tag[1]].append(int(doc_id))
    rows.sort(key=lambda r: r[0])
    return rows, [sorted(c) for c in chains], [sorted(g) for g in groups]


def curate_inputs(seed: int, corpus: list[tuple[int, str]] | None = None) -> CurateInputs:
    corpus = corpus if corpus is not None else load_corpus()
    rows, chains, groups = _curate_rows(seed, corpus, _near_dup_index(corpus))
    return CurateInputs(rows=rows, chains=chains, groups=groups)


def fingerprint(inputs) -> str:
    """sha256 of the inputs' canonical JSON form."""
    blob = json.dumps(inputs, default=lambda o: o.__dict__, sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()
