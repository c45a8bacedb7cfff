"""Seeded input generator.

Every table is a pure function of the seed (``numpy.random.default_rng``),
built column-wise with pyarrow and staged as Parquet.  The engine under test
never sees the generator: it only reads the staged files.

Two table shapes are produced:

- ``documents`` — the shape of the ``__spark_entry__.py`` contract's table
  ``(doc_id, text, lang, source, n_chars)``, so the contract's
  ``oracle_sql()`` texts apply unchanged;
- ``pages`` — the shape of ``datagen.documents_schema()``
  ``(url, warc_ts, html, text, lang)``, with the dirt that schema's clean
  and validate steps act on.

Texts are drawn from a seeded 2,000-word vocabulary of lowercase ASCII
pseudo-words, so word 3-shingles are almost never shared by chance: only the
injected duplicates and near-duplicates share them.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LANGS = ["en", "de", "fr", "es", "zh"]
VOCAB_SIZE = 2000
_SYLLABLES = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]

#: Input sizes.  Each workload is sized so one operation takes a few seconds
#: on a 4-core host and a whole run (set-up included) stays under a minute.
BULK = {"pages": 150_000, "warmup_pages": 2_000}
MICRO = {"batches": 4, "batch_docs": 5_000, "warmup_docs": 1_000}
CORPUS = {
    "docs": 6_000,
    "warmup_docs": 1_000,
    "dup_frac": 0.01,
    "near_dup_frac": 0.01,
    "lineitem_per_doc": 4,
    "events_per_doc": 2,
    "customers": 1_000,
}

_Y2024 = int(datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp())
_YEAR_S = 365 * 24 * 3600


def vocabulary(rng: np.random.Generator) -> np.ndarray:
    """VOCAB_SIZE distinct pseudo-words of 2-4 syllables."""
    words: dict[str, None] = {}
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(2, 5))
        words["".join(rng.choice(_SYLLABLES, n))] = None
    return np.array(list(words), dtype=object)


def texts(rng: np.random.Generator, vocab: np.ndarray, n: int,
          min_words: int = 15, max_words: int = 80) -> pa.Array:
    """``n`` space-joined random word sequences."""
    lengths = rng.integers(min_words, max_words + 1, n)
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    words = pa.array(vocab).take(pa.array(rng.integers(0, len(vocab), int(offsets[-1]))))
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), words), " ")


def _edit_one_word(rng: np.random.Generator, vocab: np.ndarray, text: str) -> str:
    words = text.split(" ")
    words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
    return " ".join(words)


def documents(rng: np.random.Generator, vocab: np.ndarray, doc_ids: np.ndarray,
              dup_frac: float = 0.0, near_dup_frac: float = 0.0) -> pa.Table:
    """Contract-shaped documents.  Rule-firing shares (against the contract
    schema: text ≥ 100 chars, lang ∈ {en,de,fr,es}, source ~ ^src[0-9]$,
    n_chars ≤ 400) come from the distributions: ~4% short texts, ~20% 'zh',
    half of the sources are src10..src19, ~20% long texts.  No column is
    NULL, so SQL ``not in`` and the engine's rules agree row for row.

    ``dup_frac`` of the rows copy an earlier row's text exactly and
    ``near_dup_frac`` copy it with one word replaced."""
    n = len(doc_ids)
    text = texts(rng, vocab, n).to_numpy(zero_copy_only=False).astype(object)
    n_dup = int(n * dup_frac)
    n_near = int(n * near_dup_frac)
    targets = rng.choice(np.arange(1, n), n_dup + n_near, replace=False)
    for j, t in enumerate(targets):
        src = text[int(rng.integers(0, t))]
        text[t] = src if j < n_dup else _edit_one_word(rng, vocab, src)
    text_arr = pa.array(text, type=pa.string())
    lang = np.array(LANGS, dtype=object)[rng.choice(5, n, p=[0.35, 0.15, 0.15, 0.15, 0.2])]
    source = pc.binary_join_element_wise(
        "src", pa.array(rng.integers(0, 20, n)).cast(pa.string()), ""
    )
    return pa.table({
        "doc_id": pa.array(doc_ids, type=pa.int64()),
        "text": text_arr,
        "lang": pa.array(lang, type=pa.string()),
        "source": source,
        "n_chars": pc.utf8_length(text_arr).cast(pa.int64()),
    })


def pages(rng: np.random.Generator, vocab: np.ndarray, n: int) -> pa.Table:
    """Pages in the ``datagen.documents_schema()`` shape, dirty in fixed
    shares so every rule of that schema fires and cleaning has work:

    - url: 1% ``ftp://`` and 1% with an inner space (regEx), 0.2% longer
      than 2048 chars (maxString), 0.5% NULL (required), 2% padded with
      blanks that trimming removes;
    - warc_ts: 1% in 2014 (minDate), 1% in 2026 (maxDate), 0.3% NULL;
    - html: 0.3% NULL (required);
    - text: 2% NULL, 2% empty, 3% padded (all valid after cleaning);
    - lang: 3% 'xx' and 2% 'EN' (notAllowed), 3% NULL, 2% padded.
    """
    u = rng.random((6, n))
    ids = pa.array(np.arange(n)).cast(pa.string())
    hosts = pa.array(rng.integers(0, 500, n)).cast(pa.string())
    url = pc.binary_join_element_wise("https://host", hosts, ".example/p/", ids, "")
    url = pc.if_else(pa.array(u[0] < 0.01), pc.replace_substring(url, "https://", "ftp://"), url)
    url = pc.if_else(pa.array((u[0] >= 0.01) & (u[0] < 0.02)),
                     pc.binary_join_element_wise(url, "a b", "/"), url)
    url = pc.if_else(pa.array((u[0] >= 0.02) & (u[0] < 0.022)),
                     pc.binary_join_element_wise(url, "x" * 2100, "/"), url)
    url = pc.if_else(pa.array((u[0] >= 0.03) & (u[0] < 0.05)),
                     pc.binary_join_element_wise("  ", url, " \t", ""), url)
    url = pc.if_else(pa.array((u[0] >= 0.05) & (u[0] < 0.055)), pa.scalar(None, pa.string()), url)

    secs = _Y2024 + rng.integers(0, _YEAR_S - 1, n)
    secs = np.where(u[1] < 0.01, secs - 10 * _YEAR_S, secs)
    secs = np.where((u[1] >= 0.01) & (u[1] < 0.02), secs + 2 * _YEAR_S, secs)
    ts = pa.array(secs * 1_000_000, type=pa.timestamp("us", tz="UTC"))
    ts = pc.if_else(pa.array((u[1] >= 0.02) & (u[1] < 0.023)), pa.scalar(None, ts.type), ts)

    text = texts(rng, vocab, n)
    html = pc.binary_join_element_wise(
        "<html><head><title>", ids, "</title></head><body><p>", text, "</p></body></html>", ""
    ).cast(pa.binary())
    html = pc.if_else(pa.array(u[2] < 0.003), pa.scalar(None, pa.binary()), html)
    text = pc.if_else(pa.array(u[3] < 0.02), pa.scalar(None, pa.string()), text)
    text = pc.if_else(pa.array((u[3] >= 0.02) & (u[3] < 0.04)), "", text)
    text = pc.if_else(pa.array((u[3] >= 0.04) & (u[3] < 0.07)),
                      pc.binary_join_element_wise(" \t", text, "  ", ""), text)

    lang = pa.array(np.array(LANGS, dtype=object)[rng.integers(0, 5, n)], type=pa.string())
    lang = pc.if_else(pa.array(u[4] < 0.03), "xx", lang)
    lang = pc.if_else(pa.array((u[4] >= 0.03) & (u[4] < 0.05)), "EN", lang)
    lang = pc.if_else(pa.array((u[4] >= 0.05) & (u[4] < 0.08)), pa.scalar(None, pa.string()), lang)
    lang = pc.if_else(pa.array((u[4] >= 0.08) & (u[4] < 0.10)),
                      pc.binary_join_element_wise(" ", lang, " ", ""), lang)
    return pa.table({"url": url, "warc_ts": ts, "html": html, "text": text, "lang": lang})


def lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    """Lineitem-shaped keys: ~3% of the rows repeat another row's order key."""
    key = np.arange(n)
    dup = rng.random(n) < 0.03
    key[dup] = rng.integers(0, n, int(dup.sum()))
    return pa.table({
        "l_orderkey": pa.array(key, type=pa.int64()),
        "l_quantity": pa.array(rng.integers(1, 50, n).astype(np.float64)),
    })


def events(rng: np.random.Generator, n: int) -> pa.Table:
    """Events whose ``user_id`` is 97% in [0, 100), 2% in [100, 200) — no
    matching customer in the checked subset — and 1% NULL."""
    u = rng.random(n)
    user = np.where(u < 0.02, rng.integers(100, 200, n), rng.integers(0, 100, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), type=pa.int64()),
        "user_id": pa.array(user, type=pa.int64(), mask=u > 0.99),
        "event_type": pa.array(np.array(["view", "click", "error"], dtype=object)[rng.integers(0, 3, n)],
                               type=pa.string()),
    })


def customer(n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n), type=pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
    })


def stage(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` Parquet files under directory ``path``
    so a scan gets one split per file."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))
