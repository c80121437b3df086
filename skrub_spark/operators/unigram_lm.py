"""Unigram-LM (SentencePiece-shape) subword tokenizer (Kudo 2018,
arXiv:1804.10959 — beyond-reference LLM-pipeline operator, SURVEY.md
§2; the r9-verdict top-next item).

The tokenizer actually used by Llama-class pipelines is a unigram
language model, not BPE: a vocabulary of pieces with probabilities,
trained by EM, applied by Viterbi (most-probable segmentation). The
Spark factoring mirrors :mod:`~skrub_spark.operators.bpe`:

- **word counting is distributed** — one explode + groupBy; Zipf
  bounds the word-frequency dict the trainer consumes.
- **seed vocabulary is distributed** — every substring (length
  1..max_piece_len) of every distinct word, weighted by word count,
  one explode + groupBy + top-k; all single characters are always
  kept (coverage guarantee).
- **EM is distributed** — each E-step is one Arrow-batched
  ``mapInPandas`` forward-backward pass over the DISTINCT-WORD
  frame (piece probabilities broadcast in the closure), aggregated
  by a (piece, expected_count) groupBy. Driver state is the
  vocab-sized probability table only — the IPF/linkage discipline.
- **encoding is exact integer DP** — piece log-probs freeze as
  INTEGER MICRO nats (``lp6 = HALF_UP(ln p × 1e6)``), so the
  Viterbi scores are exact BIGINT sums: bit-identical under any
  partitioning and replayable by a DuckDB chained-CTE DP (the
  ``unigram_stats_frozen`` oracle). Characters outside the vocab
  fall back to a fixed UNK penalty, so every word segments.

EM itself is float (forward-backward ratios), so the self-training
battery query ``unigram_token_stats`` is ROWS-ONLY with pytest
contracts (hand-worked Viterbi, EM-improves-likelihood,
coverage/determinism properties); the committed frozen model
(``_frozen.UNIGRAM_MODEL``, trained by ``tools/train_frozen.py
--append-unigram``) powers the exact twin ``unigram_stats_frozen``
— the ``bpe_stats_frozen`` precedent.

Reference parity: skrub has no tokenizer; this is a
beyond-reference operator from the brief's LLM-pipeline mandate.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import words_az09
from ..session import checkpoint, fan_out

#: hard caps shared by trainer, encoder, oracle and tests — part of
#: the operator's spec, not tunables (the oracle's DP is unrolled to
#: MAX_WORD_LEN levels with MAX_PIECE_LEN joins each).
UNIGRAM_MAX_PIECE_LEN = 6
UNIGRAM_MAX_WORD_LEN = 24
#: fixed penalty (micro nats) for a single character absent from the
#: vocabulary — keeps every word segmentable without an <unk> token.
UNIGRAM_UNK_LP6 = -20_000_000


@dataclass
class UnigramModel:
    """pieces: piece -> lp6 (integer micro natural-log probability,
    negative). All segmentation state lives here — codebook-sized."""

    pieces: dict[str, int] = field(default_factory=dict)
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN
    max_word_len: int = UNIGRAM_MAX_WORD_LEN


def _lp6(p: float) -> int:
    """HALF_UP (away-from-zero) micro-nat quantization of ln(p) —
    the engine-rounding discipline (python round() is banker's)."""
    x = math.log(p) * 1_000_000.0
    return (
        int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))
    )


def viterbi_stats(
    word: str, pieces: dict[str, int], max_piece_len: int
) -> tuple[int, int]:
    """(n_pieces, ll6) of the best segmentation of ``word``:
    maximize total lp6, ties broken by FEWER pieces (further ties
    cannot change either output). Single chars absent from the
    vocab cost UNIGRAM_UNK_LP6 — coverage is total. Pure integer
    arithmetic; the DuckDB oracle replays the identical DP."""
    L = len(word)
    # best[i] = (score6, n_pieces) for the prefix word[:i]
    best: list[tuple[int, int] | None] = [(0, 0)] + [None] * L
    for i in range(1, L + 1):
        cand: tuple[int, int] | None = None
        for k in range(1, min(max_piece_len, i) + 1):
            prev = best[i - k]
            if prev is None:
                continue
            piece = word[i - k : i]
            lp = pieces.get(piece)
            if lp is None:
                if k != 1:
                    continue
                lp = UNIGRAM_UNK_LP6
            c = (prev[0] + lp, prev[1] + 1)
            if (
                cand is None
                or c[0] > cand[0]
                or (c[0] == cand[0] and c[1] < cand[1])
            ):
                cand = c
        best[i] = cand
    s, np_ = best[L]  # always reachable via the k=1 fallback
    return np_, s


def _word_frame(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, w) rows — lowercased [a-z0-9]+ runs truncated to
    MAX_WORD_LEN, the exact rule the oracle replays with
    ``substr(unnest(regexp_extract_all(lower(text), ...)), 1, L)``."""
    return (
        fan_out(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", F.explode(words_az09(text_col)).alias("w0"))
        .select(
            "id", F.substring("w0", 1, UNIGRAM_MAX_WORD_LEN).alias("w")
        )
    )


def _segment_words(words: DataFrame, model: UnigramModel) -> DataFrame:
    """Viterbi stats per DISTINCT word: (w, np, ll6). Arrow-batched;
    the vocab rides in the closure (codebook-sized)."""
    pieces = dict(model.pieces)
    k_max = int(model.max_piece_len)

    def seg(batches):
        import pandas as pd

        for pdf in batches:
            ws = pdf["w"].tolist()
            nps, lls = [], []
            for w in ws:
                np_, s = viterbi_stats(w, pieces, k_max)
                nps.append(np_)
                lls.append(s)
            yield pd.DataFrame({"w": ws, "np": nps, "ll6": lls})

    return words.mapInPandas(seg, "w string, np long, ll6 long")


def unigram_token_stats(
    df: DataFrame,
    model: UnigramModel,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document unigram-LM token accounting:
    ``(id_col, n_words, n_pieces, ll6, chars_per_piece)`` where
    ``ll6`` is the total Viterbi log-likelihood in micro nats
    (exact BIGINT) and ``chars_per_piece`` the corpus-quality
    compression signal. Zero-word documents yield zeros.

    Scale shape (the bpe_token_stats discipline): Viterbi runs once
    per DISTINCT word (Zipf makes that the cheap side), then joins
    back to (doc, word) occurrences; the per-doc reduce is exact
    integer sums, so the result is partitioning-invariant."""
    dw = _word_frame(df, text_col, id_col)
    stats = _segment_words(dw.select("w").distinct(), model)
    agg = (
        dw.join(stats, "w")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("np").cast("long").alias("n_pieces"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
            F.sum("ll6").cast("long").alias("ll6"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(agg.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_pieces", F.lit(0)).cast("long").alias("n_pieces"),
            F.coalesce("ll6", F.lit(0)).cast("long").alias("ll6"),
            F.round(
                F.coalesce("n_chars", F.lit(0)).cast("double")
                / F.greatest(
                    F.coalesce("n_pieces", F.lit(0)), F.lit(1)
                ).cast("double"),
                6,
            ).alias("chars_per_piece"),
        )
    )


def _expected_counts(
    words_counts: DataFrame, probs: dict[str, float], k_max: int
) -> DataFrame:
    """One distributed E-step: forward-backward expected piece
    counts over the (w, c) word-frequency frame; returns
    (piece, ec double) rows ready for a groupBy sum."""

    def estep(batches):
        import pandas as pd

        for pdf in batches:
            acc: dict[str, float] = {}
            for w, c in zip(pdf["w"].tolist(), pdf["c"].tolist()):
                L = len(w)
                alpha = [0.0] * (L + 1)
                alpha[0] = 1.0
                for i in range(1, L + 1):
                    s = 0.0
                    for k in range(1, min(k_max, i) + 1):
                        p = probs.get(w[i - k : i])
                        if p:
                            s += alpha[i - k] * p
                    alpha[i] = s
                z = alpha[L]
                if z <= 0.0:
                    continue
                beta = [0.0] * (L + 1)
                beta[L] = 1.0
                for i in range(L - 1, -1, -1):
                    s = 0.0
                    for k in range(1, min(k_max, L - i) + 1):
                        p = probs.get(w[i : i + k])
                        if p:
                            s += p * beta[i + k]
                    beta[i] = s
                for i in range(L):
                    for k in range(1, min(k_max, L - i) + 1):
                        piece = w[i : i + k]
                        p = probs.get(piece)
                        if p:
                            gamma = alpha[i] * p * beta[i + k] / z
                            if gamma > 0.0:
                                acc[piece] = (
                                    acc.get(piece, 0.0) + c * gamma
                                )
            yield pd.DataFrame(
                {"piece": list(acc.keys()), "ec": list(acc.values())}
            )

    return words_counts.mapInPandas(estep, "piece string, ec double")


def train_unigram(
    df: DataFrame,
    text_col: str = "text",
    *,
    vocab_size: int = 300,
    seed_size: int = 1500,
    n_em: int = 3,
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
    max_words: int = 20000,
) -> UnigramModel:
    """EM-train the unigram LM on the corpus; returns the frozen
    integer-lp6 model.

    Bounded driver state throughout: the word dict stays a
    DataFrame (top ``max_words`` by frequency — Zipf holds ~all
    mass); only vocab-sized (piece, count) aggregates are ever
    collected. Deterministic given a fixed input layout: top-k ties
    break lexicographically, EM is fixed-iteration, collected rows
    are sorted by key before dict construction, driver-side sums are
    math.fsum over sorted keys, and the final quantization is
    HALF_UP. (The one residual float-order freedom is Spark's
    distributed ``sum(ec)`` partition-merge order; for a pinned
    replay use the frozen model via ``tools/train_frozen.py``.)"""
    wc = checkpoint(  # branch point: seed + every E-step
        fan_out(df.select(F.col(text_col)))
        .select(F.explode(words_az09(text_col)).alias("w0"))
        .select(F.substring("w0", 1, UNIGRAM_MAX_WORD_LEN).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(int(max_words))
    )
    # ---- seed: substring occurrence mass, all lengths 1..k (one
    # nested-transform explode — substr with column args via SQL)
    subs = wc.selectExpr(
        "c",
        (
            "explode(flatten(transform(sequence(1, {k}), k -> "
            "transform(sequence(1, greatest(length(w) - k + 1, 0)), "
            "i -> substr(w, i, k))))) AS p"
        ).format(k=int(max_piece_len)),
    )
    seed = (
        subs.groupBy("p")
        .agg(F.sum("c").cast("long").alias("m"))
        .orderBy(F.col("m").desc(), F.col("p").asc())
        .limit(int(seed_size))
        .collect()
    )
    weights = {r["p"]: float(r["m"]) for r in seed}
    # coverage: every single char present in the corpus words.
    # collect() row order is NOT deterministic — sort by key before
    # building the dict, and fsum over sorted keys, so piece probs
    # are bit-identical between runs (r10 advice item).
    chars = sorted(
        wc.selectExpr("explode(split(w, '')) AS ch", "c")
        .where(F.col("ch") != "")
        .groupBy("ch")
        .agg(F.sum("c").cast("long").alias("m"))
        .collect(),
        key=lambda r: r["ch"],
    )
    for r in chars:
        weights.setdefault(r["ch"], float(r["m"]))
    tot = math.fsum(weights[p] for p in sorted(weights))
    probs = {p: m / tot for p, m in weights.items()}
    singles = {p for p in probs if len(p) == 1}
    # ---- EM
    for _ in range(int(n_em)):
        ec_rows = sorted(
            _expected_counts(wc, probs, int(max_piece_len))
            .groupBy("piece")
            .agg(F.sum("ec").alias("ec"))
            .collect(),
            key=lambda r: r["piece"],
        )
        counts = {r["piece"]: float(r["ec"]) for r in ec_rows}
        # keep singles alive with a floor so coverage never collapses
        floor = max(math.fsum(counts[p] for p in sorted(counts)), 1.0) * 1e-9
        for ch in singles:
            counts[ch] = max(counts.get(ch, 0.0), floor)
        tot = math.fsum(counts[p] for p in sorted(counts))
        probs = {p: c / tot for p, c in counts.items() if c > 0.0}
    # ---- prune to vocab_size: singles always kept
    multi = sorted(
        ((p, pr) for p, pr in probs.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )
    keep = {p: probs[p] for p in singles if p in probs}
    for p, pr in multi[: max(0, int(vocab_size) - len(keep))]:
        keep[p] = pr
    tot = sum(keep.values())
    return UnigramModel(
        pieces={p: _lp6(pr / tot) for p, pr in sorted(keep.items())},
        max_piece_len=int(max_piece_len),
        max_word_len=UNIGRAM_MAX_WORD_LEN,
    )


def viterbi_segment(
    word: str, pieces: dict[str, int], max_piece_len: int
) -> list[str]:
    """The best segmentation itself (backtrace of
    :func:`viterbi_stats` — same max-score / fewest-pieces rule,
    with the SHORTEST last piece preferred on exact (score, count)
    ties so the split is fully deterministic)."""
    L = len(word)
    best: list[tuple[int, int, int] | None] = [(0, 0, 0)] + [None] * L
    for i in range(1, L + 1):
        cand: tuple[int, int, int] | None = None
        for k in range(1, min(max_piece_len, i) + 1):
            prev = best[i - k]
            if prev is None:
                continue
            lp = pieces.get(word[i - k : i])
            if lp is None:
                if k != 1:
                    continue
                lp = UNIGRAM_UNK_LP6
            c = (prev[0] + lp, prev[1] + 1, k)
            if (
                cand is None
                or c[0] > cand[0]
                or (c[0] == cand[0] and c[1] < cand[1])
                or (c[0] == cand[0] and c[1] == cand[1] and c[2] < cand[2])
            ):
                cand = c
        best[i] = cand
    out: list[str] = []
    i = L
    while i > 0:
        k = best[i][2]
        out.append(word[i - k : i])
        i -= k
    out.reverse()
    return out


def segment_text(
    df: DataFrame,
    model: UnigramModel,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "pieces",
) -> DataFrame:
    """Encode documents to piece sequences: ``(id_col, out_col)``
    with ``out_col`` an array<string> — the usable tokenizer API on
    top of the stats queries. Runs Viterbi once per DISTINCT word
    (Zipf memoization), joins back by occurrence, and reassembles
    per doc in word order. Word boundaries follow words_az09 with
    the MAX_WORD_LEN truncation — identical to
    :func:`unigram_token_stats`, so ``size(pieces)`` equals its
    ``n_pieces``."""
    dw = (
        fan_out(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select(
            "id",
            F.posexplode(words_az09(text_col)).alias("pos", "w0"),
        )
        .select(
            "id",
            "pos",
            F.substring("w0", 1, UNIGRAM_MAX_WORD_LEN).alias("w"),
        )
    )
    pieces = dict(model.pieces)
    k_max = int(model.max_piece_len)

    def seg(batches):
        import pandas as pd

        memo: dict[str, list[str]] = {}
        for pdf in batches:
            ws = pdf["w"].tolist()
            out = []
            for w in ws:
                got = memo.get(w)
                if got is None:
                    got = viterbi_segment(w, pieces, k_max)
                    memo[w] = got
                out.append(got)
            yield pd.DataFrame({"w": ws, "ps": out})

    seg_words = dw.select("w").distinct().mapInPandas(
        seg, "w string, ps array<string>"
    )
    per_doc = (
        dw.join(seg_words, "w")
        .groupBy("id")
        .agg(
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("pos", "ps"))
                ).getField("ps")
            ).alias(out_col)
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(
                F.col(out_col), F.array().cast("array<string>")
            ).alias(out_col),
        )
    )
