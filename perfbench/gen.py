"""Seeded inputs for the spark-ir benchmark.

Everything here is a pure function of ``(seed, size)``: the same seed gives
byte-identical tables and request streams. The program under test sees only
the tables (parquet, the BASELINE pages schema) and the request lists.

The corpus is not made with ``webpages.synthesize_pages``: that generator is
seedless, hashes every word with md5 (about 15 s per 20k pages) and its
vocabulary puts half of all tokens on one term. This one draws words from a
50k-word Zipf(s=1.1) vocabulary with numpy and renders its own HTML, whose
extraction by the library must give back the ``text`` column byte for byte.
"""

from __future__ import annotations

import html
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 50_000
ZIPF_S = 1.1
LANGS = np.array(["eng", "spa", "deu", "fra", "rus", "ita"])
LANG_P = np.array([0.55, 0.15, 0.1, 0.1, 0.05, 0.05])
_CONS = list("bcdfghjklmnprstvwz")
_VOWS = list("aeiou")
_ACCENTED = ["é", "ü", "ñ", "ø", "å"]
# no English or Spanish stopword ends in k, v or w, so ending every word in
# one keeps the analyzer from dropping any: a document's terms are its words
_FINAL = np.array(["k", "v", "w"], dtype=object)
_INLINE = ("a", "b", "em", "span")

PAGES_SCHEMA = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                          ("html", pa.binary()), ("text", pa.string()),
                          ("lang", pa.string())])


class Corpus:
    """Vocabulary and term distribution of one seed."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = np.random.default_rng([seed, 0])
        syl = np.array([c + v for c in _CONS for v in _VOWS], dtype=object)
        n = 2 * VOCAB_SIZE
        n_syl = rng.integers(2, 5, n)
        picks = syl[rng.integers(0, len(syl), (n, 4))]
        finals = _FINAL[rng.integers(0, len(_FINAL), n)]
        cand = ["".join(row[:k]) + f for row, k, f in zip(picks, n_syl, finals)]
        # ~3% of words carry a non-ASCII letter: they route through the
        # analyzer's Python path instead of its ASCII fast path
        acc = rng.random(n) < 0.03
        acc_ch = rng.integers(0, len(_ACCENTED), n)
        cand = [w + _ACCENTED[c] if a else w for w, a, c in zip(cand, acc, acc_ch)]
        words = list(dict.fromkeys(cand))[:VOCAB_SIZE]
        if len(words) < VOCAB_SIZE:
            raise RuntimeError(f"only {len(words)} distinct words generated")
        # rank r has probability ∝ r^-s; which word gets which rank is random
        self.words = np.array(words, dtype=object)[rng.permutation(VOCAB_SIZE)]
        self.ascii = np.array([w.isascii() for w in self.words])
        p = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -ZIPF_S
        self.cdf = np.cumsum(p / p.sum())

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        """n term ranks (0-based) from the corpus distribution."""
        return np.minimum(np.searchsorted(self.cdf, rng.random(n)), VOCAB_SIZE - 1)


def render_html(title: str, lines: list[str], picks: np.ndarray,
                tags: np.ndarray) -> str:
    """A web page whose extraction is exactly ``title + "\\n" + lines``.

    Boilerplate the extractor must drop (script, style, comments) sits
    around the content. In each line the word at fraction ``picks[i]`` is
    wrapped in inline tag ``tags[i]``; removing the tag only leaves a space
    where one already was."""
    body = []
    for ln, frac, t in zip(lines, picks, tags):
        toks = html.escape(ln).split(" ")
        j = int(frac * len(toks))
        tag = _INLINE[t]
        attr = ' href="/l"' if tag == "a" else ""
        toks[j] = f"<{tag}{attr}>{toks[j]}</{tag}>"
        body.append("<p>" + " ".join(toks) + "</p>")
    return ("<!DOCTYPE html><html><head>"
            f"<title>{html.escape(title)}</title>"
            "<style>p{margin:0}</style>"
            "<script>var nav = '<p>menu</p>';</script></head><body>"
            "<!-- header --><div class=\"c\">\n"
            + "\n".join(body) + "\n</div><!-- footer --></body></html>")


_MAX_LINES = 64  # 500 words in lines of at least 8


def make_pages(corpus: Corpus, part: int, n: int) -> pa.Table:
    """n pages of one table; ``part`` keeps urls unique across tables."""
    rng = np.random.default_rng([corpus.seed, 1, part])
    n_words = rng.integers(100, 501, n)
    ranks = corpus.draw(rng, int(n_words.sum()))
    toks = corpus.words[ranks]
    langs = rng.choice(LANGS, n, p=LANG_P)
    sites = rng.integers(0, 5000, n)
    ts = (1_600_000_000 + rng.integers(0, 100_000_000, n)) * 1_000_000
    n_title = rng.integers(3, 7, n)
    steps = rng.integers(8, 15, (n, _MAX_LINES))
    picks = rng.random((n, _MAX_LINES))
    tags = rng.integers(0, len(_INLINE), (n, _MAX_LINES))
    urls, htmls, texts = [], [], []
    ends = np.cumsum(n_words)
    for i in range(n):
        words = toks[ends[i] - n_words[i]:ends[i]]
        title = " ".join(words[:n_title[i]])
        cuts = np.cumsum(steps[i]) + n_title[i]
        cuts = cuts[cuts < len(words)]
        lines = [" ".join(x) for x in np.split(words[n_title[i]:], cuts - n_title[i])]
        urls.append(f"https://site{sites[i]}.example/p{part}/{i:06d}")
        htmls.append(render_html(title, lines, picks[i], tags[i]).encode("utf-8"))
        texts.append("\n".join([title, *lines]))
    return pa.table({"url": urls, "warc_ts": pa.array(ts, pa.timestamp("us")),
                     "html": pa.array(htmls, pa.binary()), "text": texts,
                     "lang": langs.tolist()}, schema=PAGES_SCHEMA)


# bump when the generated tables change, so stale cached ones are not reused
TABLES_VERSION = 1


def cached_pages(work: str, corpus: Corpus, part: int, n: int) -> str:
    """Write (once per seed, part and size) and return a parquet dir."""
    path = os.path.join(work, "tables",
                        f"v{TABLES_VERSION}_s{corpus.seed}_p{part}_n{n}")
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        os.makedirs(path, exist_ok=True)
        pq.write_table(make_pages(corpus, part, n), os.path.join(path, "part-0.parquet"))
        open(done, "w").close()
    return path


def head_queries(corpus: Corpus, n: int, rng: np.random.Generator) -> list[list[str]]:
    """2-6 distinct terms each, drawn from the corpus distribution."""
    out = []
    for _ in range(n):
        m = int(rng.integers(2, 7))
        picked: list[int] = []
        while len(picked) < m:
            r = int(corpus.draw(rng, 1)[0])
            if corpus.ascii[r] and r not in picked:
                picked.append(r)
        out.append([corpus.words[r] for r in picked])
    return out


def tail_queries(corpus: Corpus, n: int, rng: np.random.Generator,
                 lo: int = 200, hi: int = 5000) -> list[list[str]]:
    """1-4 distinct mid/tail terms each: uniform over ranks [lo, hi)."""
    ok = np.flatnonzero(corpus.ascii[lo:hi]) + lo
    return [[corpus.words[r] for r in rng.choice(ok, int(rng.integers(1, 5)),
                                                 replace=False)]
            for _ in range(n)]
