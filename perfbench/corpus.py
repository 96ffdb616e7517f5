"""Seeded input generator: corpora, NRT micro-batches and query mixes.

Everything the engine receives comes from here, as plain (url, text)
rows, and is a pure function of the seed. The generator never imports
the engine.

* webtext: a fixed pseudo-word vocabulary drawn with Zipf(1.1) frequencies,
  lognormal document lengths (5..2000 tokens), 18% stopwords, sentence
  punctuation and line breaks, a Title-Case title line, and the pinned
  edge-case documents of FIXTURES.md section 1 at indices 10..17.
* skewed: a few short "hub" documents hold the skew terms at high tf,
  and a long tail of webtext-like documents mentions each once. Block
  upper bounds of the tail blocks fall far below the hubs' scores, so
  block-max WAND can skip them.
* NRT batches: new documents, about 10% of them re-ingesting an existing
  url with new text (update = delete + add).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

STOPWORDS = (
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with").split()

VOCAB_SIZE = 8000
ZIPF_EXP = 1.1
STOP_SHARE = 0.18

_SYL = ["ba", "ra", "ku", "mo", "ti", "sen", "dor", "vel", "mi", "zo",
        "pla", "qui", "fen", "gar", "hul", "jic", "kam", "lor", "nep", "wex"]

# pinned edge-case bodies (FIXTURES.md section 1); independent of the seed
EDGE_BODIES = {
    10: "",
    11: " ".join(STOPWORDS),
    12: "x" * 256 + " normaltoken " + "y" * 255,
    13: "Foo-Bar, baz's QUUX. mp3 4k x86_64 3.14 2,000",
    14: " ".join(["tfonce"] + ["tftwo"] * 2 + ["tfmid"] * 127
                 + ["tfblock"] * 128 + ["tfover"] * 129 + ["tfbig"] * 300),
    15: "Café naïve coöperate résumé 日本語 中文搜索",
    16: "tieterm alpha beta gamma delta",
    17: "tieterm alpha beta gamma delta",
}

SKEW_TERMS = ["skewhub", "skewpeak", "skewtop"]


def make_vocab() -> np.ndarray:
    """VOCAB_SIZE distinct lowercase pseudo-words; index = frequency rank.
    The vocabulary is the same for every seed (the seed varies the
    documents), so index size and query cost do not drift with it."""
    rng = np.random.default_rng(1)
    seen, out = set(STOPWORDS) | set(SKEW_TERMS), []
    while len(out) < VOCAB_SIZE:
        w = "".join(rng.choice(_SYL, int(rng.integers(2, 5))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return np.array(out, dtype=object)


_P = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_EXP
ZIPF_CDF = np.cumsum(_P / _P.sum())


def zipf_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.searchsorted(ZIPF_CDF, rng.random(n), side="right").clip(0, VOCAB_SIZE - 1)


def _bodies(rng: np.random.Generator, vocab: np.ndarray, n: int,
            mean_log: float = 4.2, min_len: int = 5) -> list[str]:
    """n webtext bodies: Zipf words, stopwords, '.', ',' and newlines."""
    lens = np.clip(np.round(rng.lognormal(mean_log, 0.9, n)), min_len, 2000).astype(np.int64)
    total = int(lens.sum())
    words = vocab[zipf_ids(rng, total)].astype(object)
    stop = rng.random(total) < STOP_SHARE
    words[stop] = np.array(STOPWORDS, dtype=object)[rng.integers(0, len(STOPWORDS), int(stop.sum()))]
    pos = np.arange(total) - np.repeat(np.cumsum(lens) - lens, lens)
    seps = np.full(total, " ", dtype=object)
    seps[pos % 7 == 6] = ", "
    seps[pos % 13 == 12] = ". "
    seps[pos % 37 == 36] = ".\n"
    seps[np.cumsum(lens) - 1] = "."
    flat = (words + seps).tolist()
    out, at = [], 0
    for ln in lens.tolist():
        out.append("".join(flat[at:at + ln]))
        at += ln
    return out


def _title(rng: np.random.Generator, vocab: np.ndarray, n: int) -> list[str]:
    ids = zipf_ids(rng, 3 * n).reshape(n, 3)
    return [" ".join(w.title() for w in vocab[row]) for row in ids]


def url_of(family: str, i: int) -> str:
    return f"https://site{i % 97:02d}.example/{family}/{i:08d}"


def webtext(seed: int, n: int, vocab: np.ndarray | None = None,
            family: str = "w", start: int = 0, edge: bool = True) -> pd.DataFrame:
    """Documents start..start+n-1 of a webtext family as (url, text)."""
    vocab = make_vocab() if vocab is None else vocab
    rng = np.random.default_rng((seed, 2, start, zlib.crc32(family.encode())))
    bodies = _bodies(rng, vocab, n)
    titles = _title(rng, vocab, n)
    idx = range(start, start + n)
    if edge:
        bodies = [EDGE_BODIES.get(i, b) for i, b in zip(idx, bodies)]
    return pd.DataFrame({"url": [url_of(family, i) for i in idx],
                         "text": [t + "\n" + b for t, b in zip(titles, bodies)]})


def skewed(seed: int, vocab: np.ndarray, n_hubs: int = 24,
           n_tail: int = 6000) -> pd.DataFrame:
    """Hub documents (short; every skew term at the same tf, 40..200) plus
    tail documents (at least 100 tokens, each skew term exactly once)."""
    rng = np.random.default_rng((seed, 3))
    rows = []
    for i in range(n_hubs):
        toks = SKEW_TERMS * int(rng.integers(40, 201))
        toks += list(vocab[zipf_ids(rng, int(rng.integers(5, 30)))])
        rng.shuffle(toks)
        rows.append((url_of("hub", i), " ".join(toks)))
    bodies = _bodies(rng, vocab, n_tail, mean_log=5.0, min_len=100)
    for i, b in enumerate(bodies):
        rows.append((url_of("tail", i), b + " " + " ".join(SKEW_TERMS) + "."))
    return pd.DataFrame(rows, columns=["url", "text"])


def nrt_batches(seed: int, vocab: np.ndarray, base_urls: list[str],
                batch_size: int, update_share: float = 0.1):
    """Endless micro-batches of new webtext documents; update_share of each
    batch re-ingests a url that already exists (base or an earlier batch)."""
    rng = np.random.default_rng((seed, 4))
    known, nxt = list(base_urls), 0
    n_upd = max(1, int(round(batch_size * update_share)))
    while True:
        fresh = webtext(seed, batch_size - n_upd, vocab, family="nrt",
                        start=nxt, edge=False)
        nxt += batch_size - n_upd
        pick = rng.choice(len(known), n_upd, replace=False)
        upd = webtext(seed, n_upd, vocab, family="upd", start=nxt, edge=False)
        nxt += n_upd
        upd["url"] = [known[j] for j in pick]
        known.extend(fresh["url"])
        yield pd.concat([fresh, upd], ignore_index=True)


def query_mix(vocab: np.ndarray, df: dict[str, int],
              phrase_pool: list[list[str]]) -> list[dict]:
    """One round of the query mix. Terms are taken at fixed frequency ranks
    of the seed's vocabulary (ranks of terms with df 0 in the corpus are
    skipped, the deliberate absent term aside), so every seed asks
    queries of the same shape and cost. df: term -> document frequency;
    phrase_pool: phrases that occur in the corpus.
    Each entry: {"kind", "name", "terms", "op"}."""
    present = [str(w) for w in vocab if df.get(w, 0) > 0]
    tail = [w for w in present[3000:] if df[w] <= 20]

    def q(kind, name, terms, op="OR"):
        return {"kind": kind, "name": name, "terms": terms, "op": op}

    # the phrases of most postings: the same (decode-heavy) shape every seed
    p2, p3 = (max((p for p in phrase_pool if len(p) == n),
                  key=lambda p: sum(df[t] for t in p)) for n in (2, 3))
    return [q("term", "head", present[1:2]), q("term", "mid", present[300:301]),
            q("term", "tail", tail[:1]), q("term", "absent", ["zqxabsentterm"]),
            q("bool", "or", present[4:5] + present[200:203], "OR"),
            q("bool", "and", present[6:7] + present[60:61], "AND"),
            q("bool", "msm2", present[8:9] + present[150:152], "MSM2"),
            q("long", "or", present[10:13] + present[400:1000:80], "OR"),
            q("wand", "skewed", list(SKEW_TERMS)),
            q("wand", "webtext", present[4:5] + present[200:203]),
            q("phrase", "p2", p2), q("phrase", "p3", p3)]
