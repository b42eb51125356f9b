"""Seeded input generators for the benchmark.

Every generator takes a ``numpy.random.Generator`` and returns plain
pandas frames or Python lists; the program under test only ever sees
what these functions build. The same seed gives the same inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# events dataset (lake_reads)
N_REGIONS = 8  # hive partition key: low cardinality
N_USERS = 20_000  # secondary-index column: Zipf-skewed, high cardinality
ZIPF_A = 1.3
TS_STEP = 10  # ts grows with event_id, so a range layout gives narrow per-file ranges
KINDS = np.array(["click", "view", "buy", "share", "like"])
KIND_P = [0.4, 0.3, 0.1, 0.1, 0.1]

# cube: seed cells x regions, one enrichment dataset on a subset of cells
N_CELLS = 1_000
N_GROUPS = 50
SCORE_COVERAGE = 0.6


def zipf_users(rng: np.random.Generator, n: int) -> np.ndarray:
    """User ids with Zipf skew: id 0 is the hottest, the tail is long."""
    return ((rng.zipf(ZIPF_A, n) - 1) % N_USERS).astype("int64")


def events(rng: np.random.Generator, n: int, first_id: int, region: int | None = None) -> pd.DataFrame:
    """``n`` events with ids ``first_id..first_id+n-1``; ``ts`` follows the id."""
    ids = np.arange(first_id, first_id + n, dtype="int64")
    regions = (
        np.full(n, region, dtype="int64") if region is not None
        else rng.integers(0, N_REGIONS, n).astype("int64")
    )
    return pd.DataFrame({
        "event_id": ids,
        "region": regions,
        "user_id": zipf_users(rng, n),
        "ts": ids * TS_STEP + rng.integers(0, TS_STEP, n),
        "kind": rng.choice(KINDS, n, p=KIND_P),
        "value": rng.random(n),
    })


def cube_inputs(rng: np.random.Generator) -> dict[str, pd.DataFrame]:
    """Seed dataset (every cell in every region) plus a sparse ``scores``
    enrichment that a payload condition makes restrictive."""
    cell = np.tile(np.arange(N_CELLS, dtype="int64"), N_REGIONS)
    region = np.repeat(np.arange(N_REGIONS, dtype="int64"), N_CELLS)
    seed = pd.DataFrame({
        "cell": cell,
        "region": region,
        "grp": rng.integers(0, N_GROUPS, len(cell)).astype("int64"),
        "base": rng.random(len(cell)),
    })
    keep = rng.random(len(cell)) < SCORE_COVERAGE
    scores = pd.DataFrame({
        "cell": cell[keep],
        "region": region[keep],
        "score": rng.random(int(keep.sum())),
    })
    return {"seed": seed, "scores": scores}


# -- lake_reads query stream ------------------------------------------------

# One round of lake_reads, in this order. User ids are Zipf draws, split
# into a hot stratum (the HOT_USERS most frequent ids, in nearly every
# file) and a tail stratum (a file or two each), so every round has the
# same mix of wide and narrow index lookups whatever the seed.
READ_CLASSES = ("partition_point", "index_point_hot", "index_point_tail", "stats_range",
                "or_conj", "residual_scan", "cube")
HOT_USERS = 16


def zipf_user(rng: np.random.Generator, hot: bool) -> int:
    while True:
        u = int(zipf_users(rng, 1)[0])
        if (u < HOT_USERS) == hot:
            return u


def read_query(rng: np.random.Generator, cls: str, n_events: int):
    """One query of class ``cls``: DNF predicates for the events dataset,
    or (for ``cube``) the ``query_cube`` conditions."""
    if cls == "partition_point":
        return [[("region", "==", int(rng.integers(0, N_REGIONS)))]]
    if cls in ("index_point_hot", "index_point_tail"):
        return [[("user_id", "==", zipf_user(rng, hot=cls.endswith("hot")))]]
    if cls == "stats_range":
        width = n_events * TS_STEP // 50
        lo = int(rng.integers(0, n_events * TS_STEP - width))
        return [[("ts", ">=", lo), ("ts", "<", lo + width)]]
    if cls == "or_conj":
        return [
            [("region", "==", int(rng.integers(0, N_REGIONS))), ("kind", "==", "buy")],
            [("user_id", "==", zipf_user(rng, hot=False))],
        ]
    if cls == "residual_scan":
        return [[("value", "<", float(rng.uniform(0.005, 0.015)))]]
    if cls == "cube":
        return [[("region", "==", int(rng.integers(0, N_REGIONS))),
                 ("score", ">", float(rng.uniform(0.9, 0.95)))]]
    raise ValueError(cls)


def _literal_mask(df: pd.DataFrame, col: str, op: str, value) -> pd.Series:
    s = df[col]
    return {"==": s == value, "<": s < value, ">": s > value, "<=": s <= value, ">=": s >= value}[op]


def dnf_mask(df: pd.DataFrame, predicates) -> pd.Series:
    """Oracle: evaluate DNF predicates over a pandas frame (no nulls)."""
    out = pd.Series(False, index=df.index)
    for conj in predicates:
        m = pd.Series(True, index=df.index)
        for col, op, value in conj:
            m &= _literal_mask(df, col, op, value)
        out |= m
    return out


# -- corpus_e2e -------------------------------------------------------------

# The corpus follows the shape measured on the sf0.1 test data's
# documents.parquet (5,000 docs; the file tools/scaling_probe.py clones):
# 10-100 words per doc, uniform (median 54); 30 equally frequent words of
# 1-8 letters (mean 4.5) plus a rare marker word; languages en 41 %,
# zh/es/fr 15 % each, de 14 %; source = doc_id mod 20; 0.16 % exact
# copies and 4.7 % near copies that add or drop one word at the end.
# perfbench/README.md lists the measurement.
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]  # Gopher's list
GOPHER_MIN_WORDS = 50
# The sample's two stopword-like words are "the" and "a"; only "the" is on
# Gopher's list, so every sample doc fails Gopher's two-stopword rule and
# the cleaned corpus would be empty. Here the second one is "and".
VOCAB_STOPWORDS = ["the", "and"]
VOCAB_SIZE = 30
WORD_LETTERS = (3, 6)  # content-word lengths, uniform: mean 4.4 with the stopwords
DOC_WORDS = (10, 100)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.412, 0.151, 0.149, 0.148, 0.140]
N_SOURCES = 20
EXACT_RATE = 0.0016
NEAR_RATE = 0.047
NEAR_WORD = "dup"
# planted test set for the decontamination filter; the sample has none
CONTAMINATED_RATE = 1 / 40
CORPUS_DOCS = 4_000  # first batch
CORPUS_APPEND = 1_000  # second batch, appended before the index sync
BENCH_PASSAGES = 20
PASSAGE_WORDS = 16
DECONTAMINATION_N = 8  # clean_corpus's default n-gram length
TARGET_DOCS = 100
N_SHARDS = 8


def vocabulary(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set(VOCAB_STOPWORDS)
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(letters, int(rng.integers(WORD_LETTERS[0], WORD_LETTERS[1] + 1))))
        if w not in STOPWORDS and w != NEAR_WORD:
            words.add(w)
    return np.array(sorted(words))


def corpus(rng: np.random.Generator, n_docs: int, first_id: int, vocab: np.ndarray,
           passages: list[str]) -> tuple[pd.DataFrame, dict]:
    """Documents of the measured shape, some with a benchmark passage
    planted, and the copies: ``exact`` maps a copy to its original and
    ``near`` maps a copy with one word added or dropped at the end to its
    original."""
    lo, hi = DOC_WORDS
    texts: list[list[str]] = [list(rng.choice(vocab, int(rng.integers(lo, hi + 1))))
                              for _ in range(n_docs)]
    ids = np.arange(first_id, first_id + n_docs, dtype="int64")
    plants = {"exact": {}, "near": {}}
    roles = rng.permutation(n_docs)
    n_exact, n_near = round(n_docs * EXACT_RATE), round(n_docs * NEAR_RATE)
    copies, originals = roles[:n_exact + n_near], roles[n_exact + n_near:]
    long_originals = [int(i) for i in originals if len(texts[i]) >= GOPHER_MIN_WORDS]
    for i in rng.choice(long_originals, round(n_docs * CONTAMINATED_RATE), replace=False):
        at = int(rng.integers(0, len(texts[i]) - PASSAGE_WORDS))
        texts[i][at:at + PASSAGE_WORDS] = passages[int(rng.integers(0, len(passages)))].split()
    for k, i in enumerate(copies):
        src = int(rng.choice(originals))
        words = list(texts[src])
        if k < n_exact:
            plants["exact"][int(ids[i])] = int(ids[src])
        else:
            words = words + [NEAR_WORD] if rng.random() < 0.5 else words[:-1]
            plants["near"][int(ids[i])] = int(ids[src])
        texts[i] = words
    text = [" ".join(t) for t in texts]
    df = pd.DataFrame({
        "doc_id": ids,
        "text": text,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": np.array([len(t) for t in text], dtype="int64"),
    })
    return df, plants


def gopher_keep(texts: pd.Series) -> pd.Series:
    """Oracle for Gopher's rules on this generator's texts (lower-case
    words, single spaces, no symbols): 50+ words, mean word length 3-10,
    two distinct stopwords from the list."""
    words = texts.str.split()
    n = words.str.len()
    mean_len = words.map(lambda ws: sum(map(len, ws)) / max(len(ws), 1))
    stops = words.map(lambda ws: len(set(ws) & set(STOPWORDS)))
    return (n >= GOPHER_MIN_WORDS) & mean_len.between(3, 10) & (stops >= 2)


def contaminated(texts: pd.Series, passages: list[str]) -> pd.Series:
    """Oracle: docs sharing a word ``DECONTAMINATION_N``-gram with a passage."""
    n = DECONTAMINATION_N

    def grams(ws):
        return {tuple(ws[i:i + n]) for i in range(len(ws) - n + 1)}

    bench = set().union(*(grams(p.split()) for p in passages))
    return texts.str.split().map(lambda ws: not grams(ws).isdisjoint(bench))


def benchmark_passages(rng: np.random.Generator, vocab: np.ndarray) -> list[str]:
    return [" ".join(rng.choice(vocab, PASSAGE_WORDS)) for _ in range(BENCH_PASSAGES)]


def dsir_target(rng: np.random.Generator, vocab: np.ndarray) -> pd.DataFrame:
    """Target distribution for importance resampling: docs over a third
    of the vocabulary, so the weights are far from uniform."""
    topic = vocab[: len(vocab) // 3]
    return pd.DataFrame({
        "doc_id": np.arange(TARGET_DOCS, dtype="int64"),
        "text": [" ".join(rng.choice(topic, 80)) for _ in range(TARGET_DOCS)],
    })
