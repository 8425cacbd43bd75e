"""Distributed BPE (byte-pair encoding) tokenizer training + application.

Sennrich/Haddow/Birch, "Neural Machine Translation of Rare Words with
Subword Units" (ACL 2016): start from characters, repeatedly merge the
most frequent adjacent symbol pair. The distributed shape:

- the corpus collapses ONCE to a (word, count) vocabulary (one shuffle —
  word-vocab rows, not corpus rows, flow through every later stage);
- each merge iteration is one map-side pair-count pass over the vocab
  (per-partition dict partials, Arrow-batched) + one tiny groupBy whose
  top-1 row comes to the driver. The merge list itself is the only
  driver-side state (K rows), broadcast back into the next pass's
  closure — the classic small-model/large-data loop;
- segmentation is recomputed FROM the merge list each pass (stateless
  stages: no cached distributed state to invalidate, deterministic under
  retries; cost is O(K) re-merges per word per pass over vocab rows,
  irrelevant next to the corpus scan that built the vocab).

Determinism: ties break on (count DESC, left ASC, right ASC), so the
merge table is a pure function of the corpus. No end-of-word marker is
used (documented divergence from the paper's '</w>'; the engine
tokenizes whitespace-split words independently).

No reference-repo counterpart (cran/lidaRtRee has no text handling);
driver gate: queries.bpe_train (planted-corpus closed-form oracle) plus
the local-replica parity test in tests/test_bpe.py.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def segment_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges to one word: repeatedly merge the lowest-rank adjacent
    pair (all occurrences, left-to-right non-overlapping) until none
    applies — the standard BPE application rule."""
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (syms[i], syms[i + 1])
        if best_pair is None:
            break
        merged, i = [], 0
        while i < len(syms):
            if (i < len(syms) - 1
                    and (syms[i], syms[i + 1]) == best_pair):
                merged.append(syms[i] + syms[i + 1])
                i += 2
            else:
                merged.append(syms[i])
                i += 1
        syms = merged
    return syms


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """corpus -> (word, count) vocabulary: the one corpus-sized shuffle."""
    return (docs
            .select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
            .where(F.col("word") != "")
            .groupBy("word")
            .agg(F.count("*").alias("cnt")))


def train_bpe_merges(docs: DataFrame, n_merges: int,
                     text_col: str = "text") -> list[tuple[str, str, int]]:
    """Train `n_merges` BPE merges -> [(left, right, pair_count), ...] in
    merge order. See the module docstring for the distributed shape."""
    vocab = word_vocab(docs, text_col).cache()
    merges: list[tuple[str, str, int]] = []
    try:
        for _ in range(n_merges):
            ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}

            def pair_partials(batches: Iterator[pd.DataFrame]
                              ) -> Iterator[pd.DataFrame]:
                acc: dict[tuple[str, str], int] = {}
                for pdf in batches:
                    for word, cnt in zip(pdf["word"], pdf["cnt"]):
                        syms = segment_word(word, ranks)
                        for i in range(len(syms) - 1):
                            k = (syms[i], syms[i + 1])
                            acc[k] = acc.get(k, 0) + int(cnt)
                if acc:
                    yield pd.DataFrame(
                        [{"left": a, "right": b, "n": n}
                         for (a, b), n in acc.items()])

            top = (vocab.mapInPandas(
                       pair_partials, schema="left string, right string, "
                                             "n long")
                   .groupBy("left", "right").agg(F.sum("n").alias("n"))
                   .orderBy(F.desc("n"), F.asc("left"), F.asc("right"))
                   .limit(1).collect())
            if not top:
                break
            merges.append((top[0].left, top[0].right, int(top[0].n)))
    finally:
        vocab.unpersist()
    return merges


def apply_bpe(docs: DataFrame, merges: list[tuple[str, str, int]],
              text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Tokenize: (id, tokens array<string>, n_tokens) per document — one
    Arrow-batched map pass, merge list in the closure (broadcast-sized)."""
    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                toks: list[str] = []
                for w in str(text).split(" "):
                    if w:
                        toks.extend(segment_word(w, ranks))
                out.append({id_col: rid, "tokens": toks,
                            "n_tokens": len(toks)})
            yield pd.DataFrame(out, columns=[id_col, "tokens", "n_tokens"])

    return docs.select(id_col, text_col).mapInPandas(
        run, schema=f"{id_col} long, tokens array<string>, n_tokens long")
