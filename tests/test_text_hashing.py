"""Seeded property test of the one text-hash function
(functions/text.py shingle_hashes) against the DuckDB twins the gates
replay: MinHash (``_SHING_CTE``'s sigd), SimHash (``_SIMS_CTE``) and the
decontamination grams, over hostile text — mixed ASCII whitespace runs
with leading/trailing runs, the separators Python's str.split() honours
but the explicit class must not, non-ASCII words, empty, blank, null
and too-short documents."""

from __future__ import annotations

import hashlib
import re

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

import __spark_entry__ as entrymod
from s2geometry_spark.functions import text as T
from s2geometry_spark.operators import corpus, dedup

SEED = 20261020
N_DOCS = 300
DECON_K = 5

# characters str.split() splits on but TOKEN_SPLIT_RE must not
_NOT_SEPARATORS = ["\x1c", "\x1d", "\x1e", "\x1f", "\u0085", "\u00a0",
                   "\u2028"]
_WORDS = ["the", "quick", "brown", "fox", "über", "straße", "ñandú",
          "日本語", "données", "x", "a1", "😀"]
_SEPARATORS = [" ", "\t", "\n", "\r", "\f", "\x0b"]


def _separator_run(rng) -> str:
    return "".join(rng.choice(_SEPARATORS, size=rng.integers(1, 4)))


def _word(rng) -> str:
    w = str(rng.choice(_WORDS))
    if rng.random() < 0.25:
        w += str(rng.choice(_NOT_SEPARATORS)) + str(rng.choice(_WORDS))
    return w


def _join(rng, words) -> str:
    body = "".join(w + _separator_run(rng) for w in words)[:-1] \
        if words else ""
    lead = _separator_run(rng) if rng.random() < 0.5 else ""
    trail = _separator_run(rng) if rng.random() < 0.5 else ""
    return lead + body + trail


def hostile_texts(seed: int = SEED, n: int = N_DOCS) -> list[str | None]:
    """Seeded documents; every fourth re-spaces an earlier document's
    words, so grams and shingles recur across different whitespace."""
    rng = np.random.default_rng(seed)
    fixed = [None, "", " \t\n\r\f\x0b ", "\x0b", "one", "one two",
             "one two three four", "a\x1cb c d e f g\x85h i j"]
    words: list[list[str]] = []
    out: list[str | None] = list(fixed)
    while len(out) < n:
        if words and len(out) % 4 == 0:
            ws = words[int(rng.integers(len(words)))]
        else:
            ws = [_word(rng) for _ in range(int(rng.integers(0, 25)))]
            words.append(ws)
        out.append(_join(rng, ws))
    return out


@pytest.fixture(scope="module")
def texts():
    return hostile_texts()


@pytest.fixture(scope="module")
def oracle(texts):
    """A `documents` table the entry-point CTEs read: url = 's/<i>'."""
    con = duckdb.connect()
    con.register("documents", pd.DataFrame({
        "source": "s", "doc_id": np.arange(len(texts)), "text": texts,
        "lang": "en"}))
    yield con
    con.close()


@pytest.fixture(scope="module")
def pages(spark, texts):
    return spark.createDataFrame(
        [(f"s/{i}", t) for i, t in enumerate(texts)],
        "url string, text string").cache()


def _h60(b: bytes) -> int:
    return int(hashlib.md5(b).hexdigest()[:15], 16)


def _tokens(text: str) -> list[str]:
    """Independent scalar tokenizer: Python re on the decoded text."""
    return [t for t in re.split(T.TOKEN_SPLIT_RE, text) if t]


def test_minhash_matches_duckdb_twin(pages, oracle, texts):
    got = {r["url"]: (r["sh"], r["sigs"])
           for r in dedup.minhash_signatures(pages).collect()}
    exp = {u: (sh, sigs) for u, sh, sigs in oracle.execute(
        entrymod._SHING_CTE + " SELECT url, sh, sigs FROM sigd").fetchall()}
    assert got.keys() == exp.keys()
    for url, (sh, sigs) in got.items():
        assert sigs == exp[url][1], url
        assert sorted(sh) == sorted(exp[url][0]), url
    # sh keeps first-occurrence order (Spark's array_distinct)
    for i, t in enumerate(texts):
        toks = _tokens(t) if t else []
        ref = list(dict.fromkeys(
            _h60(" ".join(toks[j:j + 3]).encode())
            for j in range(len(toks) - 2)))
        assert got.get(f"s/{i}", ([],))[0] == ref, i


def test_simhash_matches_duckdb_twin(pages, oracle):
    got = {r["url"]: r["simhash"] for r in dedup.simhash_df(pages).collect()}
    exp = dict(oracle.execute(
        entrymod._SIMS_CTE + " SELECT url, simhash FROM sims").fetchall())
    assert got == exp


def test_grams_match_duckdb_twin(texts, oracle):
    lens, h1, _ = T.shingle_hashes(pa.array(texts), DECON_K)
    glens, grams = T.first_distinct(lens, h1)
    got = {f"s/{i}": sorted(g) for i, g in enumerate(
        np.split(grams, np.cumsum(glens)[:-1])) if len(g)}
    h = T.h60_sql("s")
    exp = {u: sorted(g) for u, g in oracle.execute(
        entrymod._TOK_CTE + f""", g AS (SELECT url, list_distinct(
            [{h} for s in {T.shingles_sql('toks', DECON_K)}]) AS grams
            FROM tok) SELECT url, grams FROM g WHERE len(grams) > 0"""
    ).fetchall()}
    assert got == exp


def test_decontaminate_matches_duckdb_twin(pages, oracle):
    in_bench = "CAST(split_part(url, '/', 2) AS INT) % 3 = 0"
    bench = pages.filter(in_bench)
    got = {r["url"]: (r["n_hit"], r["contaminated"]) for r in
           corpus.decontaminate(pages, corpus.collect_bench_grams(
               bench, k=DECON_K), k=DECON_K).collect()}
    exp = {u: (n, c) for u, n, c in oracle.execute(
        corpus.decontaminate_sql(entrymod._TOK_CTE, in_bench, DECON_K)
    ).fetchall()}
    assert got == exp
    # re-spaced copies of benchmark documents are caught too
    assert any(c for u, (_, c) in got.items()
               if int(u.split("/")[1]) % 3), got
