"""BPE tokenizer training + encoding for training-data pipelines.

The classic byte-pair-encoding algorithm (Sennrich et al. 2016,
arXiv:1508.07909, the '</w>' word-end variant) with the split of
labor every real trainer uses (HF tokenizers does the same):

- **corpus pass = Spark**: ONE distributed explode+groupBy produces
  the word-frequency dictionary. At 100 TB this is the only pass
  that touches data; its output is bounded by the active vocabulary
  (~10^6-10^7 distinct words), further truncated deterministically to
  the `max_words` most frequent (TakeOrdered — per-partition heads,
  no global sort; ties break lexicographically).
- **merge loop = driver, dictionary-scale**: the greedy
  most-frequent-pair loop runs over the word-count dictionary with
  incremental pair-count maintenance (only words containing the
  merged pair are touched per round) — the loop's input is the
  aggregate, never the corpus. Ties break to the lexicographically
  smallest pair, so training is deterministic for a given
  dictionary.
- **encoding = Spark again**: distinct words are segmented once by
  an Arrow-batched pandas UDF applying merges in rank order (the
  standard greedy apply), then docs reassemble by position — a
  corpus with Zipfian repetition pays the Python kernel per DISTINCT
  word, not per occurrence.

The reference repo has no tokenizer surface; the recipe follows the
published algorithm.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..worker import drop_zip_finders
from .text import tokens

END = "</w>"


def word_counts(
    corpus: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(w, count) — the distributed corpus pass."""
    return (
        corpus.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("count"))
    )


def train_bpe(
    corpus: DataFrame,
    num_merges: int = 200,
    max_words: int = 20_000,
    min_pair_count: int = 2,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Learn `num_merges` BPE merges from the corpus. Returns the
    ordered merge list [(a, b), ...] (rank = position). Stops early
    when no pair reaches `min_pair_count`."""
    top = (
        word_counts(corpus, text_col)
        .orderBy(F.col("count").desc(), "w")
        .limit(int(max_words))
        .collect()
    )
    # driver-side state: id -> (symbol tuple, count); incremental
    # pair counts + an inverted pair->word-ids index so each merge
    # round touches only the words containing the merged pair
    words: dict[int, tuple[tuple[str, ...], int]] = {}
    pair_counts: Counter = Counter()
    where: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for wid, r in enumerate(top):
        syms = tuple(r["w"]) + (END,)
        words[wid] = (syms, int(r["count"]))
        for p in zip(syms, syms[1:]):
            pair_counts[p] += int(r["count"])
            where[p].add(wid)

    merges: list[tuple[str, str]] = []
    for _ in range(int(num_merges)):
        if not pair_counts:
            break
        best_n = max(pair_counts.values())
        if best_n < min_pair_count:
            break
        best = min(p for p, n in pair_counts.items() if n == best_n)
        merges.append(best)
        a, b = best
        merged = a + b
        for wid in list(where[best]):
            syms, cnt = words[wid]
            for p in zip(syms, syms[1:]):
                pair_counts[p] -= cnt
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                where[p].discard(wid)
            out: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == a
                    and syms[i + 1] == b
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new = tuple(out)
            words[wid] = (new, cnt)
            for p in zip(new, new[1:]):
                pair_counts[p] += cnt
                where[p].add(wid)
    return merges


def _encode_word(
    word: str,
    merges: list[tuple[str, str]],
    ranks: dict[tuple[str, str], int],
) -> list[str]:
    """Greedy merge application in rank order — the standard BPE
    encoder (always merges the LOWEST-rank pair present, all
    occurrences left-to-right)."""
    syms = list(word) + [END]
    while len(syms) > 1:
        best_rank = None
        for p in zip(syms, syms[1:]):
            r = ranks.get(p)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
        if best_rank is None:
            break
        a, b = merges[best_rank]
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Segment one word with the learned merges (driver-side twin of
    the distributed kernel; used by tests and small-scale callers)."""
    mlist = [tuple(m) for m in merges]
    return _encode_word(word, mlist, {p: i for i, p in enumerate(mlist)})


def segment_words(
    words: DataFrame, merges: list[tuple[str, str]], word_col: str = "w"
) -> DataFrame:
    """+ `bpe` (array<string>): segment each (distinct) word with an
    Arrow-batched pandas UDF. The merge table rides the closure
    (small: num_merges entries)."""
    mlist = [tuple(m) for m in merges]

    @pandas_udf("array<string>")
    def _seg(col: pd.Series) -> pd.Series:
        drop_zip_finders()
        ranks = {p: i for i, p in enumerate(mlist)}
        return col.map(lambda w: _encode_word(w, mlist, ranks))

    return words.withColumn("bpe", _seg(F.col(word_col)))


def encode_docs(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, bpe_tokens array<string>, n_bpe): tokenize documents with
    the learned merges. The Python kernel runs once per DISTINCT
    word (Zipf makes this a small fraction of occurrences); docs
    reassemble by word position with an order-stable array_sort over
    (pos, segment) structs — no window, no UDF in the reassembly."""
    posed = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokens(text_col)).alias("pos", "w"),
    )
    # posed feeds BOTH the distinct-word model side and the join
    # probe side — materialize once or the corpus tokenize+explode
    # executes twice (PLANS.md rule 15, the dominant encode cost)
    posed = posed.localCheckpoint(eager=True)
    seg = segment_words(posed.select("w").distinct(), merges)
    joined = posed.join(seg, "w")
    encoded = (
        joined.groupBy("_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "bpe"))
                    ),
                    lambda s: s["bpe"],
                )
            ).alias("bpe_tokens")
        )
    )
    # empty/NULL-text docs explode to zero rows and would VANISH
    # from the grouped output — left-join every input id back in
    # with an empty encoding (row-count preserving, like
    # chunk_documents' empty chunk)
    ids = docs.select(F.col(id_col).alias("_id")).distinct()
    return (
        ids.join(encoded, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(
                "bpe_tokens", F.array().cast("array<string>")
            ).alias("bpe_tokens"),
        )
        .withColumn("n_bpe", F.size("bpe_tokens"))
    )


def bpe_vocab(merges: list[tuple[str, str]]) -> list[str]:
    """The merged-symbol vocabulary the merge list induces (base
    characters excluded — they're corpus-dependent)."""
    return [a + b for a, b in merges]


# pandas-UDF kernels ship to Python workers (CLAUDE.md invariant 2)
import sys as _sys  # noqa: E402

import pyspark as _pyspark  # noqa: E402

_pyspark.cloudpickle.register_pickle_by_value(_sys.modules[__name__])
