"""``dedup_corpus``: the dedup operator family on a pinned corpus, one warm
pass in a session that is already started.

The corpus content is pinned (generated from a fixed internal seed), so
every operator's output is checked against a digest pinned when the
benchmark landed (``pins.json``, written by ``pin.py``). ``--seed`` decides
the physical layout only: the row order and which of the parquet files
each document lands in.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import analytics

CORPUS_SEED = 20240501
CORPUS_FILES = 4
VARIANTS = 4
BASES = 150


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    syll = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "da", "gu", "shi", "ron", "bel", "ax"]
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(syll[i] for i in rng.integers(0, len(syll), int(rng.integers(2, 4)))))
    return sorted(out)


def corpus(scale: float = 1.0) -> dict[str, list]:
    """Base x variants corpus. Base lengths are log-uniform over 20-600
    words (30x), in 40-word paragraphs; ~15% of bases end with one of 12
    shared boilerplate lines. Per base: the base, an exact copy, the base
    plus one appended line, and the base with one word replaced."""
    rng = np.random.default_rng(CORPUS_SEED)
    vocab = _vocab(rng, 3000)
    boiler = [" ".join(vocab[i] for i in rng.integers(0, len(vocab), 8)) for _ in range(12)]
    ids, texts = [], []
    for b in range(max(20, int(BASES * scale))):
        n_words = int(np.exp(rng.uniform(np.log(20), np.log(600))))
        words = [vocab[i] for i in rng.integers(0, len(vocab), n_words)]
        paras = [" ".join(words[i:i + 40]) for i in range(0, n_words, 40)]
        if rng.random() < 0.15:
            paras.append(boiler[int(rng.integers(len(boiler)))])
        edited = list(paras)
        j = int(rng.integers(len(edited)))
        toks = edited[j].split(" ")
        toks[int(rng.integers(len(toks)))] = vocab[int(rng.integers(len(vocab)))]
        edited[j] = " ".join(toks)
        for v, p in enumerate([paras, paras, paras + [f"variant of {b}"], edited]):
            ids.append(b * VARIANTS + v)
            texts.append("\n".join(p))
    return {"doc_id": ids, "text": texts}


def write_corpus(out_dir: str, seed: int, scale: float) -> int:
    """Write the corpus as ``CORPUS_FILES`` parquet files, rows permuted by
    ``seed``. Returns the number of documents."""
    table = pa.table(corpus(scale))
    table = table.take(pa.array(np.random.default_rng(seed).permutation(table.num_rows)))
    path = os.path.join(out_dir, "corpus.parquet")
    os.makedirs(path)
    cut = np.linspace(0, table.num_rows, CORPUS_FILES + 1).astype(int)
    for i in range(CORPUS_FILES):
        pq.write_table(table.slice(cut[i], cut[i + 1] - cut[i]), os.path.join(path, f"part-{i:05d}.parquet"))
    return table.num_rows


def build_ops(spark, in_dir: str) -> list:
    """The seven operators, with the same parameters as ``bench.py``'s
    dedup tier."""
    from wordpress_sql_to_contentstack_exporter_spark.operators import dedup as dd
    from wordpress_sql_to_contentstack_exporter_spark.operators import text as tx

    docs = spark.read.parquet(os.path.join(in_dir, "corpus.parquet"))
    d, t = "operators.dedup", "operators.text"
    return [
        (d, "exact_dedup", lambda: dd.exact_dedup(docs)),
        (d, "minhash_lsh_candidates", lambda: dd.minhash_lsh_candidates(docs, num_hashes=16, bands=2)),
        (d, "simhash_neardups_blocked", lambda: dd.simhash_neardups_blocked(
            docs, max_hamming=3, combo_r=2, max_block_size=1000)),
        (d, "paragraph_dedup", lambda: dd.paragraph_dedup(docs)),
        (d, "setsim_join", lambda: dd.setsim_join(docs, id_col="doc_id", text_col="text", tau_num=9, tau_den=10)),
        (t, "remove_boilerplate_lines", lambda: tx.remove_boilerplate_lines(docs)),
        (t, "repeated_spans", lambda: tx.repeated_spans(docs, span=64, min_docs=2, top=100)),
    ]


def workload(ctx, pins: dict[str, str]) -> dict:
    return analytics.workload(
        ctx, "dedup_corpus", lambda d: write_corpus(d, ctx.seed, ctx.scale), build_ops, pins)
